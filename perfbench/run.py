"""The repository benchmark.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --all [--seed N] [--seconds S]

Runs from the repository root. Builds the program and the JVM harness
from source (perfbench/build.py), makes the DAG's raw lake from the seed
(cached under .bench_build/data), runs one harness JVM, checks the
program's outputs and prints one JSON object as the last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics (layers.json maps each to the
end-to-end metric it should move). The line before it is the run record
summary: the run stamp and failed_frac. The full record, with the trace,
is written to .bench_build/runs/. --all runs every workload untraced and
prints each end-to-end metric by name with its unit, plus failed_frac.

Workloads (each a closed loop with one client, passes back to back):
  nh_daily_dag   the paper's DAG (ingest, universal cleaning, archive,
                 validate, provider and quality transforms) on a day-1
                 full load and a day-2 delta, each day followed by the
                 SCD2/SCD1 dimension merges;
  surface_light  sub-second relational and warehouse queries of
                 SparkEntry, where per-query driver costs set the time,
                 over a copy of the repository's sf0.1 fixture
                 (perfbench/data/sf0.1); the seed sets the query order.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
# The heap limit build.sbt runs the program with; the heap grows as needed.
JVM_HEAP = "8g"
JVM_TIMEOUT_S = 165
LAKES_KEPT = 12

# One or two queries of each family the light mix names; the whole
# 60-query mix takes ~55 s cold and ~27 s warm per pass on 4 cores,
# more than a run can afford.
LIGHT_QUERIES = [
    "clean_universal", "split_pattern_projection", "join_left_enrich",
    "join_manifest_anti", "scd2_merge", "snapshot_diff", "incr_agg_merge",
    "validate_constraints", "source_csv_roundtrip", "lake_partition_prune",
    "q3_shipping_priority", "q6_filter_agg"]

WORKLOADS = {
    "nh_daily_dag": {"facilities": 2000},
    "surface_light": {"star": "sf0.1", "queries": LIGHT_QUERIES},
}

END_TO_END = {  # name -> unit
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
    "query_geomean_ms": "ms", "query_p90_ms": "ms", "retained_heap_mb": "MB"}

DAG_SPANS = ["runner", "ingest.sync", "cleaning", "archive",
             "catalog.validate", "provider_transform", "quality_transform",
             "merge"]
SURFACE_SPANS = ["query", "entry.build", "exec"]
PER_LAYER = [  # name -> unit, in the order of layers.json
    ("ingest.sync_s", "s"), ("ingest.files_skipped", "count"),
    ("cleaning.s", "s"), ("cleaning.jobs", "count"),
    ("cleaning.scan_ratio", "ratio"), ("catalog.validate_s", "s"),
    ("archive.s", "s"), ("provider_transform.s", "s"),
    ("provider_transform.scan_ratio", "ratio"),
    ("quality_transform.s", "s"), ("runner.par_overlap", "ratio"),
    ("merge.s", "s"), ("merge.shuffle_bytes", "bytes"),
    ("lake.write_amp", "ratio"), ("entry.build_s", "s"),
    ("entry.build_jobs", "count"), ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("codegen.compile_s", "s"), ("codegen.compiles", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.input_bytes", "bytes"), ("sched.idle_s", "s"),
    ("sched.core_util", "ratio"), ("jvm.gc_s", "s"),
    ("jvm.peak_rss_mb", "MB"), ("jvm.peak_heap_mb", "MB"),
    ("log.error_lines", "count"), ("trace.overhead_frac", "ratio"),
    ("pass.unattributed_s", "s")] + [
    (f"self.{n}_s", "s") for n in DAG_SPANS + SURFACE_SPANS]

# ---------------------------------------------------------------- inputs


def lake_dir(seed, facilities):
    """The seed's raw lake, generated on first use; a few are kept."""
    d = os.path.join(BUILD, "data", f"lake-{facilities}-{seed}")
    if not os.path.exists(os.path.join(d, ".complete")):
        old = sorted(glob.glob(os.path.join(BUILD, "data", "lake-*")),
                     key=os.path.getmtime)
        for o in old[:max(0, len(old) - LAKES_KEPT + 1)]:
            shutil.rmtree(o, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        import gen_lake
        gen_lake.generate(d, seed, facilities)
        open(os.path.join(d, ".complete"), "w").close()
    os.utime(d)
    return d


def star_dir(name):
    """The star schema the query surface reads: a byte copy of the
    repository's deterministic synthetic fixture of that scale (see
    TESTDATA.md), the input graft.Bench and the DuckDB oracle gate use."""
    return os.path.join(HERE, "data", name)


# --------------------------------------------------------------- the JVM

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def java_cmd(classes, main_args):
    opens = [x for p in JDK_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(BUILD, "tmp")  # Spark's local dirs, inside the checkout
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{JVM_HEAP}",
             f"-Djava.io.tmpdir={tmp}"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "perfbench.Harness"] + main_args)


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=ROOT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness exceeded {timeout:.0f} s; see {log_path}")
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness exited with {code}; see {log_path}")


def other_jvms():
    n = 0
    for c in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(c, "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            n += 1
    return n


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- checks


def result_digest(df):
    """Row count and a hash of a result, independent of row and column
    order and sensitive to column types (as the oracle gate is)."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    h = hashlib.sha256(str([str(t) for t in df.dtypes]).encode())
    h.update(df.to_csv(index=False).encode())
    return {"rows": len(df), "hash": h.hexdigest()[:32]}


def check_surface(record, star):
    """Mismatches of the check pass's results against the pins."""
    import duckdb
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)[star]
    out = record["check"]["observed"]["dir"]
    con = duckdb.connect()
    con.sql("SET threads=2")
    bad = []
    for op in record["check"]["ops"]:
        name = op["name"]
        if not op["ok"]:
            continue  # counted as a failed operation already
        got = result_digest(con.sql(
            f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").df())
        if got != pins.get(name):
            bad.append(f"{name}: got {got}, pinned {pins.get(name)}")
    return len(record["check"]["ops"]), bad


DAG_OUTPUTS = ["staging/provider_info", "staging/qualitymsr_mds",
               "staging/survey_summary", "staging/penalties",
               "transform/facility", "transform/staffing", "transform/rating",
               "transform/surveys", "transform/penalties",
               "transform/qualitymsr_mds"]


def observe_dag(day_dir):
    """Counts, content hashes (gen_lake.row_hash) and distinct row_ids of
    a day's outputs, and the dimension counts, from its snapshot."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=2")
    outputs = {}
    for p in DAG_OUTPUTS:
        rel = con.sql(f"SELECT * FROM read_parquet('{day_dir}/{p}/*.parquet')")
        rows = rel.fetchall()
        # gen_lake.row_hash, unrolled: "col=value" pairs sorted by column
        cols = sorted((c, i) for i, c in enumerate(rel.columns) if c != "row_id")
        rid = rel.columns.index("row_id")
        h = sum(zlib.crc32("|".join(
            f"{c}={r[i]}" for c, i in cols if r[i] is not None).encode())
            for r in rows)
        outputs[p] = {"rows": len(rows), "hash": h,
                      "distinct_row_ids": len({r[rid] for r in rows})}
    dim = f"read_parquet('{day_dir}/warehouse/%s/*.parquet')"
    one = lambda q: con.sql(q).fetchone()[0]
    fac = dim % "facility"
    dims = {
        "facility_rows": one(f"SELECT count(*) FROM {fac}"),
        "facility_current": one(f"SELECT count(*) FROM {fac} WHERE is_current"),
        "facility_closed": one(f"SELECT count(*) FROM {fac} WHERE NOT is_current"),
        "facility_max_current_per_key": one(
            f"SELECT coalesce(max(n), 0) FROM (SELECT count(*) n FROM {fac} "
            "WHERE is_current GROUP BY facility_number)"),
        "rating_rows": one(f"SELECT count(*) FROM {dim % 'rating'}"),
        "staffing_rows": one(f"SELECT count(*) FROM {dim % 'staffing'}")}
    return {"outputs": outputs, "dims": dims}


def check_dag(record, expected):
    """Mismatches of the cold pass's observations against the lake's
    expected.json; returns (checks made, mismatches)."""
    def observed(o):
        if "dir" not in o:
            return o
        try:
            return {**o, **observe_dag(o["dir"])}
        except Exception as e:  # a missing or unreadable output
            return {**o, "outputs": {}, "dims": {}, "error": str(e)}

    obs = {day: observed(o) for day, o in record["check"]["observed"].items()}
    checks, bad = 0, []

    def expect(what, got, want):
        nonlocal checks
        checks += 1
        if got != want:
            bad.append(f"{what}: got {got}, expected {want}")

    for day in ("day1", "day2"):
        o, e = obs.get(day), expected["days"][day]
        if o is None:
            expect(f"{day} observed", None, "observations")
            continue
        skipped = len(expected["skipped_day2"]) if day == "day2" else 0
        log = {line.split("|")[0]: line.split("|", 2)[1:] for line in o["log"]}
        expect(f"{day} runner", sorted(s for s, _ in log.values()),
               ["SUCCESS"] * 6)
        expect(f"{day} ingest", log.get("sync_inbox", [None, None])[1],
               f"synced={len(e['synced'])} skipped={skipped}")
        expect(f"{day} cleaning",
               log.get("universal_cleaning", [None, None])[1],
               ",".join(f"{d}:staged" for d in sorted(
                   ["penalties", "provider_info", "qualitymsr_mds",
                    "survey_summary"])))
        for path, want in e["outputs"].items():
            got = o["outputs"].get(path, {})
            expect(f"{day} {path}", {"rows": got.get("rows"),
                                     "hash": got.get("hash")}, want)
            expect(f"{day} {path} row_id unique",
                   got.get("distinct_row_ids"), got.get("rows"))
        for k, want in expected["dims"][day].items():
            expect(f"{day} dim {k}", o["dims"].get(k), want)
        expect(f"{day} one current row per facility",
               o["dims"].get("facility_max_current_per_key"), 1)
    for what, got, want in traced_dag_drift(record):
        expect(what, got, want)
    return checks, bad


def traced_dag_drift(record):
    """Traced passes run the benchmark's stage-for-stage copy of
    NursingHomePipeline.run. Pairs each traced day's Runner log with the
    untraced run's log of that day, as (what, got, want); a difference
    means the copy no longer matches the program. The stages of a Par
    node log in completion order, so lines are compared as sorted lists."""
    logs = {}
    for p in record["passes"]:
        for o in p["ops"]:
            if o["name"].endswith(".pipeline") and o["ok"]:
                logs.setdefault((o["name"], p["traced"]), []).append(
                    sorted(o["log"]))
    out = []
    for (name, traced), got in sorted(logs.items()):
        if traced:
            want = logs.get((name, False), [None])[0]
            out += [(f"traced {name} log", g, want) for g in got]
    return out


# --------------------------------------------------------------- metrics


def op_s(op):
    return (op["end"] - op["start"]) / 1e6


def pass_s(p):
    """A pass's time: the sum of its operations' wall times."""
    return sum(op_s(o) for o in p["ops"])


def end_to_end(record):
    warm = [p for p in record["passes"] if p["kind"] == "warm"
            and not p["traced"]]
    samples = {}
    for p in warm:
        for o in p["ops"]:
            samples.setdefault(o["name"], []).append(op_s(o) * 1000)
    all_ms = [x for xs in samples.values() for x in xs]
    return {
        "setup_s": record["setup_s"],
        "cold_pass_s": pass_s(record["passes"][0]),
        "warm_pass_s": stats.median([pass_s(p) for p in warm]),
        "query_geomean_ms": stats.geomean(
            [stats.median(xs) for xs in samples.values()]),
        "query_p90_ms": stats.percentile(all_ms, 90),
        "retained_heap_mb": record["retained_heap_bytes"] / 2**20,
    }, len(all_ms)


def per_layer(record, expected, error_lines):
    """Per-layer metrics from the traced run: medians over the traced
    warm passes, except codegen, which is compiled once and so is read
    from the cold pass. Also returns each traced warm pass's values."""
    tr = record["trace"]
    cores = record["cores"]
    spans = tr["spans"]
    by_id = {s["id"]: s for s in spans}
    selfs = stats.self_times(spans)
    tasks = [dict(zip(("span", "launch", "finish", "run_ms", "shuffle_read",
                       "shuffle_write", "spill", "input", "output"), t))
             for t in tr["tasks"]]
    traced = [p for p in record["passes"] if p["traced"] and p["kind"] == "warm"]
    untraced = [p for p in record["passes"] if not p["traced"] and p["kind"] == "warm"]

    def root_name(span_id, names):
        """Nearest enclosing span (itself included) named in `names`."""
        while span_id in by_id:
            if by_id[span_id]["name"] in names:
                return by_id[span_id]["name"]
            span_id = by_id[span_id]["parent"]
        return None

    per_pass = []
    for p in traced:
        lo, hi = p["start"], p["end"]
        ps = [s for s in spans if s["pass"] == p["index"]]
        ids = {s["id"] for s in ps}
        pt = [t for t in tasks if lo <= t["launch"] <= hi]
        pj = [j for j in tr["jobs"] if lo <= j["start"] <= hi]
        m = {}

        def dur(name):
            return sum(s["end"] - s["start"] for s in ps if s["name"] == name) / 1e6

        def in_span(items, name):
            return [x for x in items if x["span"] in ids and
                    root_name(x["span"], {name}) == name]

        raw = sum(s["attrs"].get("raw_bytes", 0) for s in ps if s["name"] == "cleaning")
        staged = sum(s["attrs"].get("staging_bytes", 0) for s in ps
                     if s["name"] == "provider_transform")
        m["ingest.sync_s"] = dur("ingest.sync")
        m["ingest.files_skipped"] = sum(s["attrs"].get("files_skipped", 0)
                                        for s in ps if s["name"] == "ingest.sync")
        m["cleaning.s"] = dur("cleaning")
        m["cleaning.jobs"] = len(in_span(pj, "cleaning"))
        m["cleaning.scan_ratio"] = (sum(t["input"] for t in in_span(pt, "cleaning"))
                                    / raw if raw else 0.0)
        m["catalog.validate_s"] = dur("catalog.validate")
        m["archive.s"] = dur("archive")
        m["provider_transform.s"] = dur("provider_transform")
        m["provider_transform.scan_ratio"] = (
            sum(t["input"] for t in in_span(pt, "provider_transform")) / staged
            if staged else 0.0)
        m["quality_transform.s"] = dur("quality_transform")
        overlaps = []
        for r in (s for s in ps if s["name"] == "runner"):
            kids = [s for s in ps if s["parent"] == r["id"] and s["name"] in
                    ("provider_transform", "quality_transform")]
            if kids:
                wall = max(k["end"] for k in kids) - min(k["start"] for k in kids)
                overlaps.append(sum(k["end"] - k["start"] for k in kids) / wall)
        m["runner.par_overlap"] = stats.median(overlaps)
        m["merge.s"] = dur("merge")
        m["merge.shuffle_bytes"] = sum(t["shuffle_write"] for t in in_span(pt, "merge"))
        raw_in = sum(d["raw_bytes"] for d in expected["days"].values()) if expected else 0
        m["lake.write_amp"] = (sum(t["output"] for t in pt) / raw_in
                               if raw_in else 0.0)
        m["entry.build_s"] = dur("entry.build")
        m["entry.build_jobs"] = len(in_span(pj, "entry.build"))
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_s"] = sum(
                x["end"] - x["start"] for x in tr["phases"]
                if x["phase"] == ph and lo <= x["start"] <= hi) / 1e6
        m["exec.s"] = stats.union_length(
            stats.clip([(j["start"], j["end"]) for j in pj if j["end"] > 0],
                       lo, hi)) / 1e6
        m["exec.jobs"] = len(pj)
        m["exec.stages"] = sum(1 for s in tr["stages"] if lo <= s["end"] <= hi)
        m["exec.tasks"] = len(pt)
        m["exec.task_run_s"] = sum(t["run_ms"] for t in pt) / 1e3
        for k in ("shuffle_read", "shuffle_write", "spill", "input"):
            m[f"exec.{k}_bytes"] = sum(t[k] for t in pt)
        busy = stats.union_length(stats.clip(
            [(t["launch"], t["finish"]) for t in pt], lo, hi))
        m["sched.idle_s"] = (hi - lo - busy) / 1e6
        m["sched.core_util"] = (sum(t["finish"] - t["launch"] for t in pt)
                                / ((hi - lo) * cores))
        m["jvm.gc_s"] = sum(o["gc_ms"] for o in p["ops"]) / 1e3
        roots = [(s["start"], s["end"]) for s in ps if s["parent"] not in ids]
        m["pass.unattributed_s"] = pass_s(p) - stats.union_length(
            stats.clip(roots, lo, hi)) / 1e6
        for n in DAG_SPANS + SURFACE_SPANS:
            m[f"self.{n}_s"] = sum(selfs[s["id"]] for s in ps
                                   if s["name"] == n) / 1e6
        per_pass.append(m)

    out = {k: stats.median([m[k] for m in per_pass]) for k in per_pass[0]}
    cold = record["passes"][0]["ops"]
    out["codegen.compile_s"] = sum(o["codegen_ns"] for o in cold) / 1e9
    out["codegen.compiles"] = sum(o["codegen_compiles"] for o in cold)
    out["log.error_lines"] = error_lines
    out["jvm.peak_rss_mb"] = record["peak_rss_kb"] / 1024.0
    out["jvm.peak_heap_mb"] = record["peak_heap_after_gc_bytes"] / 2**20
    out["trace.overhead_frac"] = (
        stats.median([pass_s(p) for p in traced]) /
        stats.median([pass_s(p) for p in untraced]) - 1.0)
    return out, per_pass


# ------------------------------------------------------------------ run


def run(workload, seed, seconds, trace):
    """One benchmark run; returns (result line dict, record summary)."""
    spec = WORKLOADS[workload]
    classes = build.build()
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    tag = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    expected = None
    if "facilities" in spec:
        data = lake_dir(seed, spec["facilities"])
        with open(os.path.join(data, "expected.json")) as f:
            expected = json.load(f)
        extra = []
    else:
        data = star_dir(spec["star"])
        extra = ["--queries", ",".join(spec["queries"])]
    out = os.path.join(BUILD, "runs", tag + ".json")
    log = os.path.join(BUILD, "runs", tag + ".log")
    jvms_before = other_jvms()
    steal0, total0 = cpu_ticks()
    started = time.time()
    args = ["--workload", workload, "--seed", str(seed), "--seconds",
            str(seconds), "--trace", str(trace), "--data", data,
            "--work", work] + extra
    run_jvm(java_cmd(classes, args + ["--out", out]), log, JVM_TIMEOUT_S)
    steal1, total1 = cpu_ticks()
    with open(out) as f:
        record = json.load(f)

    failed_ops = [f"{o['name']}: {o['error']}" for p in record["passes"]
                  for o in p["ops"] if not o["ok"]]
    failed_ops += [f"check {o['name']}: {o['error']}"
                   for o in record["check"]["ops"] if not o["ok"]]
    timed_ops = sum(len(p["ops"]) for p in record["passes"])
    if expected is not None:
        checks, mismatches = check_dag(record, expected)
        checks += len(record["check"]["ops"])  # the plain check pass
    else:
        checks, mismatches = check_surface(record, spec["star"])
    shutil.rmtree(work, ignore_errors=True)
    attempted = timed_ops + checks
    failed = len(failed_ops) + len(mismatches)
    with open(log, errors="replace") as f:
        error_lines = sum(1 for line in f if " ERROR " in line)

    e2e, n_samples = end_to_end(record)
    tail = stats.tail_percentile(n_samples)
    summary = {
        "workload": workload, "seed": seed, "trace": trace,
        "failed_frac": failed / attempted, "failures": (failed_ops + mismatches)[:20],
        "query_samples": n_samples, "tail_percentile": tail,
        "tail_ms": stats.percentile(
            [op_s(o) * 1000 for p in record["passes"]
             if p["kind"] == "warm" and not p["traced"] for o in p["ops"]],
            tail) if tail else None,
        "warm_passes": sum(1 for p in record["passes"]
                           if p["kind"] == "warm" and not p["traced"]),
        "setup_parts_s": record["setup_parts_s"],
        "stamp": {**record["stamp"], "nproc": os.cpu_count(),
                  "cores_used": record["cores"], "other_jvms": jvms_before,
                  "commit": commit(), "build": os.path.basename(classes),
                  "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
                  "wall_s": time.time() - started},
        "log_error_lines": error_lines,
    }
    if trace:
        metrics, summary["per_pass"] = per_layer(record, expected, error_lines)
        units = dict(PER_LAYER)
    else:
        metrics = e2e
        units = END_TO_END
    summary["metrics"] = metrics
    with open(out, "w") as f:
        json.dump({**record, "summary": summary}, f)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]}
                          for k in units}}
    return result, summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced and print its metrics")
    a = ap.parse_args()
    if a.all:
        for w in WORKLOADS:
            result, summary = run(w, a.seed, a.seconds, 0)
            for k, m in result["metrics"].items():
                print(f"{w:14s} {k:18s} {m['value']:12.4f} {m['unit']}")
            print(f"{w:14s} {'failed_frac':18s} {summary['failed_frac']:12.4f} "
                  f"fraction ({result['failed']}/{result['attempted']})")
        return
    if not a.workload:
        ap.error("--workload is required")
    result, summary = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(summary, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
