"""Seeded generator of a CMS-shaped raw lake for the nh_daily_dag workload.

Writes two inbox folders of raw CSV files with the pre-normalization
headers of FIXTURES.md section 1 (provider_info, penalties,
survey_summary, qualitymsr_mds):

  day1/  a full load of `facilities` facilities;
  day2/  a delta: `changed` facilities with new attribute values plus
         `new` facilities, and a byte-identical re-delivery of one day-1
         file (same name, size and mtime), which the ingest manifest must
         skip.

Cells are dirty the way CMS exports are: padded whitespace, empty cells
and quoted commas. Every file gets a fixed mtime, so Ingest's
name:size:mtime file id is deterministic. The same seed and scale give
byte-identical files.

Alongside the files, `expected.json` holds what a correct pipeline must
produce: per-day row counts for every staging and transform domain, the
SCD dimension counts, and an order-independent content hash per output
(the sum over rows of crc32 of "col=value" pairs joined by "|", sorted
by column name, nulls skipped, `row_id` excluded).

Usage: python3 gen_lake.py OUT_DIR SEED [FACILITIES]
"""
import csv
import io
import json
import os
import sys
import zlib

import numpy as np

ETL_DATE = "2025-04-01"        # the pipeline's fixed clock
DAY1_MTIME = 1743465600        # 2025-04-01T00:00:00Z
DAY2_MTIME = 1743552000        # 2025-04-02T00:00:00Z
MEASURES = 6                   # quality measures per facility
CHANGED_FRAC = 0.10
NEW_FRAC = 0.05

STATES = ["AL", "AK", "AZ", "CA", "CO", "FL", "GA", "IL", "NY", "TX",
          "OH", "PA", "WA", "OR", "MI"]
OWNERSHIP = ["For profit - Corporation", "Non profit - Church related",
             "Government - County", "For profit - Limited Liability company"]
WORDS = ["CEDAR", "OAK", "PINE", "RIVER", "VALLEY", "HILL", "LAKE", "GARDEN",
         "MEADOW", "SUMMIT", "HARBOR", "GROVE"]

# ---- raw headers (FIXTURES.md 1.1-1.4) and their canonical names -------

IDENTITY = [
    "CMS Certification Number (CCN)", "Provider Name", "Provider Address",
    "City/Town", "State", "ZIP Code", "Telephone Number",
    "Provider SSA County Code", "County/Parish", "Ownership Type",
    "Number of Certified Beds", "Average Number of Residents per Day",
    "Average Number of Residents per Day Footnote", "Provider Type",
    "Provider Resides in Hospital", "Legal Business Name",
    "Date First Approved to Provide Medicare and Medicaid Services",
    "Affiliated Entity Name", "Affiliated Entity ID",
    "Continuing Care Retirement Community", "Special Focus Status",
    "Abuse Icon"]
_ROLES = ["Nurse Aide", "LPN", "RN", "Licensed", "Total Nurse"]
STAFFING = (
    [f"Reported {r} Staffing Hours per Resident per Day" for r in _ROLES]
    + [f"Case-Mix {r} Staffing Hours per Resident per Day" for r in _ROLES]
    + [f"Adjusted {r} Staffing Hours per Resident per Day" for r in _ROLES]
    + ["Total nursing staff turnover", "Registered Nurse turnover",
       "Administrator turnover"])
RATING = [f"{k}{s}" for k in ["Overall Rating", "Health Inspection Rating",
                              "QM Rating", "Long-Stay QM Rating",
                              "Short-Stay QM Rating", "Staffing Rating"]
          for s in ["", " Footnote"]]
SURVEYS = [f"Rating Cycle {c} {m}" for c in (1, 2, 3) for m in [
    "Standard Survey Health Date", "Total Number of Health Deficiencies",
    "Health Deficiency Score", "Number of Health Revisits",
    "Health Revisit Score", "Total Health Score"]] + [
    "Total Weighted Health Survey Score"]
PENALTY_COUNTS = [
    "Number of Facility Reported Incidents",
    "Number of Substantiated Complaints",
    "Number of Citations from Infection Control Inspections",
    "Number of Fines", "Total Amount of Fines in Dollars",
    "Number of Payment Denials", "Total Number of Penalties"]
OTHER = ["Location", "Latitude", "Longitude", "Processing Date"]
PROVIDER = IDENTITY + STAFFING + RATING + SURVEYS + PENALTY_COUNTS + OTHER

SIDE_ID = ["CMS Certification Number (CCN)", "Provider Name",
           "Provider Address", "City/Town", "ZIP Code"]
PENALTIES = SIDE_ID + ["Penalty Date", "Penalty Type", "Fine Amount"]
SURVEY_SUMMARY = SIDE_ID + ["Survey Date", "Survey Type",
                            "Count of Health Deficiencies",
                            "Count of Fire Safety Deficiencies"]
QUALITY = SIDE_ID + [
    "Measure Code", "Measure Description", "Resident Type"] + [
    x for q in ("Q1", "Q2", "Q3", "Q4")
    for x in (f"{q} Measure Score", f"Footnote for {q} Measure Score")] + [
    "Four Quarter Average Score",
    "Footnote for Four Quarter Average Score",
    "Used in Quality Measure Five Star Rating", "Measure Period",
    "Location", "Processing Date"]

RENAMES = {"cms_certification_number_ccn": "facility_number",
           "provider_name": "facility_name",
           "provider_address": "facility_address",
           "provider_type": "facility_type"}


def canonical(header):
    """Column name after the pipeline's normalize + rename steps."""
    n = header.strip().lower()
    for a, b in ((" ", "_"), ("(", ""), (")", ""), ("/", "_"), ("-", "_"),
                 (".", "_")):
        n = n.replace(a, b)
    return RENAMES.get(n, n)


# Vertical split of the provider table, as the transform specifies it.
PK = "facility_number"
DROP = ["facility_name", "facility_address", "city_town", "zip_code"]
FACILITY_COLS = [canonical(h) for h in IDENTITY]


def _pattern(cols, pats):
    return [c for c in cols if any(p in c for p in pats) and c not in DROP]


PROVIDER_COLS = [canonical(h) for h in PROVIDER]
SPLIT = {
    "facility": FACILITY_COLS,
    "staffing": _pattern(PROVIDER_COLS, [PK, "staffing", "hours_per",
                                         "turnover", "case_mix", "adjusted"]),
    "rating": _pattern(PROVIDER_COLS, ["rating", "footnote", PK]),
    "surveys": _pattern(PROVIDER_COLS, [
        "rating_cycle", "health_deficiency", "revisit_score",
        "total_weighted_health_survey_score", PK]),
    "penalties": [PK] + [canonical(h) for h in PENALTY_COUNTS],
}
QUALITY_KEEP = [PK] + [canonical(h) for h in QUALITY[5:]]

# ---- values -------------------------------------------------------------


class Facilities:
    """Clean attribute values for a set of facilities, one dict each."""

    def __init__(self, rng, ids, version):
        self.rows = [self._facility(rng, i, version) for i in ids]

    @staticmethod
    def ccn(i):
        return f"{i % 99 + 1:02d}{i // 99:04d}"

    def _facility(self, rng, i, version):
        st = STATES[i % len(STATES)]
        name = f"{WORDS[i % 12]} {WORDS[(i // 12) % 12]} CARE CENTER"
        if i % 7 == 0:
            name = f"{WORDS[i % 12]}, {WORDS[(i // 7) % 12]} NURSING"
        r = {PK: self.ccn(i), "facility_name": name,
             "facility_address": f"{100 + i % 900} {WORDS[i % 11]} ST, UNIT {i % 9}",
             "city_town": WORDS[(i // 3) % 12].title(), "state": st,
             "zip_code": f"{10000 + i * 7 % 89999:05d}",
             "telephone_number": f"{2000000000 + i * 7919 % 7999999999}",
             "provider_ssa_county_code": str(i % 400),
             "county_parish": WORDS[(i // 5) % 12].title(),
             "ownership_type": OWNERSHIP[(i + version) % len(OWNERSHIP)],
             "number_of_certified_beds": str(40 + i % 160 + 7 * version),
             "average_number_of_residents_per_day": f"{30 + (i % 150) * 0.7:.1f}",
             "average_number_of_residents_per_day_footnote": None if i % 5 else "10",
             "facility_type": "Medicare and Medicaid",
             "provider_resides_in_hospital": "Y" if i % 13 == 0 else "N",
             "legal_business_name": f"{WORDS[i % 12]} HOLDINGS {i % 97}, LLC",
             "date_first_approved_to_provide_medicare_and_medicaid_services":
                 f"{1970 + i % 50}-0{1 + i % 9}-1{i % 10}",
             "affiliated_entity_name": None if i % 3 else f"{WORDS[i % 12]} GROUP",
             "affiliated_entity_id": None if i % 3 else str(100 + i % 500),
             "continuing_care_retirement_community": "N",
             "special_focus_status": None if i % 41 else "SFF",
             "abuse_icon": "Y" if i % 17 == 0 else "N"}
        vals = rng.integers(0, 100000, size=len(PROVIDER) - len(IDENTITY))
        for h, v in zip(PROVIDER[len(IDENTITY):], vals):
            c = canonical(h)
            if c.endswith("footnote"):
                r[c] = None if v % 4 else str(v % 30)
            elif "date" in c:
                r[c] = f"202{v % 5}-{1 + v % 12:02d}-{1 + v % 28:02d}"
            elif "rating" in c and "cycle" not in c:
                r[c] = str(1 + v % 5)
            else:
                r[c] = None if v % 23 == 0 else f"{v / 1000:.3f}"
        r["location"] = f"{r['facility_address']}, {r['city_town']}, {st}"
        return r


def side_rows(rng, fac, per_facility, make):
    """Rows of a side table: per_facility(n) gives each facility's count."""
    out = []
    for r, k in zip(fac.rows, per_facility(len(fac.rows))):
        for j in range(int(k)):
            out.append(make(r, j, int(rng.integers(0, 1 << 30))))
    return out


def _side_id(r):
    return {PK: r[PK], "facility_name": r["facility_name"],
            "facility_address": r["facility_address"],
            "city_town": r["city_town"], "zip_code": r["zip_code"]}


def penalty(r, j, v):
    return {**_side_id(r), "penalty_date": f"2024-{1 + v % 12:02d}-{1 + j:02d}",
            "penalty_type": "Fine" if v % 3 else "Payment Denial",
            "fine_amount": None if v % 3 == 0 else f"{v % 90000 + 650}"}


def survey(r, j, v):
    return {**_side_id(r), "survey_date": f"202{2 + j}-{1 + v % 12:02d}-15",
            "survey_type": "Health" if j % 2 == 0 else "Fire Safety",
            "count_of_health_deficiencies": str(v % 20),
            "count_of_fire_safety_deficiencies": str(v % 11)}


def quality(r, j, v):
    row = {**_side_id(r), "measure_code": str(401 + j),
           "measure_description": f"Percentage of residents, measure {401 + j}",
           "resident_type": "Long Stay" if j % 2 else "Short Stay"}
    for q in ("q1", "q2", "q3", "q4"):
        row[f"{q}_measure_score"] = None if v % 9 == 0 else f"{(v % 997) / 10:.1f}"
        row[f"footnote_for_{q}_measure_score"] = None if v % 9 else "9"
        v //= 3
    row.update({"four_quarter_average_score": f"{(v % 997) / 10:.1f}",
                "footnote_for_four_quarter_average_score": None,
                "used_in_quality_measure_five_star_rating": "Y" if j < 4 else "N",
                "measure_period": "20240101-20241231",
                "location": r["location"], "processing_date": ETL_DATE})
    return row


# ---- dirtying and writing ----------------------------------------------


def dirty(value, u):
    """Raw CSV cell for a clean value and a uniform draw u: 15% padded on
    both sides, 3% padded on the left, the rest verbatim; None is an
    empty cell."""
    if value is None:
        return ""
    if u < 0.15:
        return "  " + value + " "
    if u < 0.18:
        return " " + value
    return value


def write_csv(rng, path, headers, rows, mtime):
    cols = [canonical(h) for h in headers]
    draws = rng.random((len(rows), len(cols))).tolist()
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(headers)
    for r, u in zip(rows, draws):
        w.writerow([dirty(r[c], x) for c, x in zip(cols, u)])
    with open(path, "w", newline="") as f:
        f.write(buf.getvalue())
    os.utime(path, (mtime, mtime))


def row_hash(row):
    """crc32 of the row's non-null "col=value" pairs, sorted by column."""
    s = "|".join(f"{c}={row[c]}" for c in sorted(row)
                 if row[c] is not None and c != "row_id")
    return zlib.crc32(s.encode("utf-8"))


def content(rows):
    return {"rows": len(rows), "hash": sum(row_hash(r) for r in rows)}


def left_enrich(fact, side, side_cols):
    by = {}
    for s in side:
        by.setdefault(s[PK], []).append(s)
    out = []
    for f in fact:
        for s in by.get(f[PK], [None]):
            out.append({**f, **{c: (s[c] if s else None) for c in side_cols}})
    return out


def expected_day(prov, pen, sur, qual):
    """Counts and hashes the pipeline must produce for one day."""
    stamp = {"etl_date": ETL_DATE}
    staged = {"provider_info": prov, "penalties": pen,
              "survey_summary": sur, "qualitymsr_mds": qual}
    out = {f"staging/{d}": content([{**r, **stamp} for r in rows])
           for d, rows in staged.items()}

    def proj(rows, cols):
        return [{c: r[c] for c in cols} for r in rows]

    side_cols = lambda rows: [c for c in rows[0] if c != PK and c not in DROP]
    tf = {
        "facility": proj(prov, SPLIT["facility"]),
        "staffing": proj(prov, SPLIT["staffing"]),
        "rating": proj(prov, SPLIT["rating"]),
        "surveys": left_enrich(proj(prov, SPLIT["surveys"]), sur,
                               side_cols(sur)),
        "penalties": left_enrich(proj(prov, SPLIT["penalties"]), pen,
                                 side_cols(pen)),
        "qualitymsr_mds": proj(qual, QUALITY_KEEP),
    }
    out.update({f"transform/{d}": content([{**r, **stamp} for r in rows])
                for d, rows in tf.items()})
    return out


def generate(out_dir, seed, facilities):
    rng = np.random.default_rng(seed)
    n_changed = int(facilities * CHANGED_FRAC)
    n_new = int(facilities * NEW_FRAC)
    # facility ids are a seeded permutation so changed/new sets vary by seed
    ids = rng.permutation(facilities + n_new)
    day1_ids, new_ids = ids[:facilities], ids[facilities:]
    changed_ids = rng.choice(day1_ids, size=n_changed, replace=False)

    pen_k = lambda n: rng.poisson(0.8, size=n)
    sur_k = lambda n: 1 + rng.integers(0, 3, size=n)
    qual_k = lambda n: np.full(n, MEASURES)

    days = {}
    for day, fac_ids, version in (
            ("day1", day1_ids, 0),
            ("day2", np.concatenate([changed_ids, new_ids]), 1)):
        fac = Facilities(rng, fac_ids, version)
        pen = side_rows(rng, fac, pen_k, penalty)
        sur = side_rows(rng, fac, sur_k, survey)
        qual = side_rows(rng, fac, qual_k, quality)
        days[day] = (fac.rows, pen, sur, qual)

    files = {}
    for day, mtime in (("day1", DAY1_MTIME), ("day2", DAY2_MTIME)):
        d = os.path.join(out_dir, day)
        os.makedirs(d, exist_ok=True)
        prov, pen, sur, qual = days[day]
        tag = day.title()
        for name, headers, rows in (
                (f"NH_ProviderInfo_{tag}.csv", PROVIDER, prov),
                (f"NH_Penalties_{tag}.csv", PENALTIES, pen),
                (f"NH_SurveySummary_{tag}.csv", SURVEY_SUMMARY, sur),
                (f"NH_QualityMDS_{tag}.csv", QUALITY, qual)):
            write_csv(rng, os.path.join(d, name), headers, rows, mtime)
            files.setdefault(day, []).append(name)
    # the re-delivered day-1 file: identical bytes and mtime
    redelivered = "NH_Penalties_Day1.csv"
    with open(os.path.join(out_dir, "day1", redelivered), "rb") as f:
        data = f.read()
    with open(os.path.join(out_dir, "day2", redelivered), "wb") as f:
        f.write(data)
    os.utime(os.path.join(out_dir, "day2", redelivered),
             (DAY1_MTIME, DAY1_MTIME))

    def raw_bytes(day, names):
        return sum(os.path.getsize(os.path.join(out_dir, day, n))
                   for n in names)

    expected = {
        "seed": seed, "facilities": facilities, "changed": n_changed,
        "new": n_new, "etl_date": ETL_DATE, "skipped_day2": [redelivered],
        "scd_attr_cols": [c for c in FACILITY_COLS if c != PK],
        "days": {day: {"synced": files[day],
                       "raw_bytes": raw_bytes(day, files[day]),
                       "outputs": expected_day(*days[day])}
                 for day in ("day1", "day2")},
        "dims": {
            "day1": {"facility_rows": facilities,
                     "facility_current": facilities, "facility_closed": 0,
                     "rating_rows": facilities, "staffing_rows": facilities},
            "day2": {"facility_rows": facilities + n_changed + n_new,
                     "facility_current": facilities + n_new,
                     "facility_closed": n_changed,
                     "rating_rows": facilities + n_new,
                     "staffing_rows": facilities + n_new}},
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) == 4 else 2000)
