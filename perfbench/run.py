#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
(`src/main/scala`) and the harness (`perfbench/harness`) with the Scala
compiler shipped in Spark's jars; later runs reuse the build while the
sources are unchanged. Everything a run writes lives under `.bench_build/`.

Each run generates its inputs from the seed, starts one JVM on
`local[<cpus>]`, executes the workload's catalog or stream queries from a
single driver thread as a closed loop, checks every timed query's result
against its DuckDB oracle, prints a detail record, and prints as its last line
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json; with `--trace 1` the
per-layer ones, measured by attaching Spark's listeners to some of the passes
and timing the harness's own calls into the engine. perfbench/README.md has
the workloads, the protocol and the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import oracle  # noqa: E402

HEAP = "4g"
DEADLINE_S = 170

# Heavy-tail rows of the frozen headline tier (`graft.Bench.HeadlineTier`),
# in groups that share a Shared.memo build (the co-purchase edges; the bm25
# index; the simhash/LSH frames), so that with the memo cleared before every
# pass, each pass pays each build once and later consumers in it reuse it.
PIPELINE_HEAVY = [
    "bfs_hops", "graph_diameter", "bm25_topk", "retrieval_pipeline",
    "containment_pairs", "curation_funnel", "pipeline_e2e",
]

# every sources/ round trip of the catalog
ROUND_TRIPS = [
    "compact_files", "mapfile_format_roundtrip", "multiple_outputs_write",
    "seqfile_block_compressed", "seqfile_roundtrip", "seqfile_sort",
    "setfile_roundtrip", "text_roundtrip", "tfile_roundtrip",
]

# First executions in a fresh JVM: every 14th catalog query by name from the
# 2nd (from the 1st, the sample holds pentomino, a data-free search kernel
# that would be a third of the pass), plus the reference's gridmix2 job
# shapes, then every sources/ round trip.
CATALOG_SWEEP = [
    "acf_daily", "approx_distinct_kmv", "avg_precision_k", "bradley_terry",
    "cluster_prune", "corpus_card", "dedup_rate_by_source", "embed_neardup",
    "field_selection", "gopher_rules", "hill_tail", "join_outer",
    "keyfield_sort", "ktruss_graph", "mann_whitney", "monster_query",
    "mrjob_wordcount", "ngram_novelty", "percentiles_exact",
    "q10_returned_items", "q3_top_revenue", "readability", "scd2_merge",
    "secondary_sort", "sort_total_order", "spearman_corr", "sudoku",
    "text_normalize", "triangle_count", "window_funcs", "wordcount",
] + ROUND_TRIPS

# the harness's stream queries (`perfbench/harness/Streams.scala`)
STREAM_STATE = ["stream_window_agg", "stream_band_join", "stream_ingest_pack"]

WORKLOADS = {
    "pipeline_heavy": dict(sf=0.01, mode="loop", queries=PIPELINE_HEAVY),
    "catalog_sweep": dict(sf=0.01, mode="once", queries=CATALOG_SWEEP),
    "stream_state": dict(sf=0.01, mode="once", queries=STREAM_STATE),
}

# query families whose summed walls are the operators/sources layer metrics
FAMILIES = {
    "operators.graph_s": ["bfs_hops", "graph_diameter", "ktruss_graph", "triangle_count"],
    "operators.setsim_s": ["containment_pairs"],
    "operators.retrieval_s": ["bm25_topk", "retrieval_pipeline", "embed_neardup"],
    "operators.composite_s": ["curation_funnel", "pipeline_e2e"],
    "operators.mr_sort_s": ["sort_total_order", "keyfield_sort", "secondary_sort"],
    "operators.mr_join_s": ["join_outer"],
    "operators.mr_count_s": ["wordcount", "mrjob_wordcount", "field_selection", "monster_query"],
    "operators.search_s": ["sudoku"],
    "sources.roundtrip_s": ROUND_TRIPS,
}

JVM_OPTS = [
    "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def spark_jars():
    """The jars of $SPARK_HOME, or else of the first Spark on PATH that ships
    a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars", "*")
    raise BenchError("no Spark jars with a Scala compiler under $SPARK_HOME or on PATH")


def scalac(out, classpath, files, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out] + (["-classpath", classpath] if classpath else []) + files
    with open(log, "w") as f:
        if subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode != 0:
            raise BenchError(f"compilation failed, see {log}")


def build(build_dir):
    """Compile engine + harness once per source digest; returns the classpath."""
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not engine or not harness:
        raise BenchError("engine sources (src/main/scala) or harness sources not found")
    digest = hashlib.sha256()
    for path in engine + harness:
        digest.update(os.path.relpath(path).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    key = digest.hexdigest()[:16]
    out = os.path.join(build_dir, f"classes-{key}")
    if not os.path.exists(os.path.join(out, "done")):
        for old in glob.glob(os.path.join(build_dir, "classes-*")):
            shutil.rmtree(old)
        scalac(os.path.join(out, "engine"), None, engine, os.path.join(build_dir, "scalac-engine.log"))
        scalac(os.path.join(out, "harness"), os.path.join(out, "engine"), harness,
               os.path.join(build_dir, "scalac-harness.log"))
        open(os.path.join(out, "done"), "w").close()
    return key, [os.path.join(out, "engine"), os.path.join(out, "harness"), spark_jars()]


def cpu_count():
    return len(os.sched_getaffinity(0))


def tail_of(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, n). With fewer than eleven samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(rec):
    """End-to-end metrics of an untraced run, plus what goes to the detail
    record only: the latency tail (with 6 to 40 samples in a run, the
    highest percentile with ten samples beyond it is near the median) and,
    for stream queries, the input rows per second. The latency of a stream
    query is that of its micro-batches."""
    batches = [b for r in rec["stream_runs"] for b in r["batch_s"]]
    secs = batches or [e["seconds"] for e in rec["execs"] if not e["error"]]
    tail, pct, n = tail_of(secs) if secs else (0.0, 0.0, 0)
    metrics = {
        "setup_s": (rec["setup_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in rec["passes"]), "s"),
        "query_p50_s": (statistics.median(secs) if secs else 0.0, "s"),
        "retained_heap_mb": (rec["retained_heap_mb"], "MB"),
    }
    extra = {"query_tail": {"seconds": tail, "percentile": pct, "n": n}}
    if batches:
        extra["rows_per_s"] = sum(r["rows"] for r in rec["stream_runs"]) / sum(batches)
    return metrics, extra


def per_layer(rec, mode):
    """Per-layer metrics of a traced run, per pass. The layers come from the
    traced passes (in `once` mode, the first-execution pass only); the
    tracing overhead compares the traced and untraced warm passes."""
    warm = [p for p in rec["passes"] if mode == "loop" or p["pass"] > 0]
    overhead = (mean([p["wall_s"] for p in warm if p["traced"]])
                / mean([p["wall_s"] for p in warm if not p["traced"]]) - 1)
    if mode == "once":
        layers, layer_passes = rec["layers"][:1], [0]
    else:
        layers, layer_passes = rec["layers"], [p["pass"] for p in rec["passes"] if p["traced"]]
    metrics = {k: (mean([m[k] for m in layers]), unit_of(k)) for k in layers[0]}
    execs = [e for e in rec["execs"] if e["pass"] in layer_passes and not e["error"]]
    for name, members in FAMILIES.items():
        metrics[name] = (sum(e["seconds"] for e in execs if e["query"] in members)
                         / len(layer_passes), "s")
    for k, v in rec["functions"].items():
        metrics[k] = (v, "ns/row")
    metrics["core.session_s"] = (rec["session_s"], "s")
    metrics["trace.overhead_frac"] = (overhead, "fraction")
    return metrics


def unit_of(name):
    suffix = name.rsplit("_", 1)[-1]
    return {"s": "s", "mb": "MB", "frac": "fraction", "ratio": "ratio"}.get(suffix, "count")


def git_commit():
    """HEAD of the checkout, or None when it is not a git repository."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              env=env, timeout=10).stdout.strip() or None
    except OSError:
        return None


def prepared(build_dir, name, make):
    """The directory `make(dir)` fills, made once per name; returns
    (dir, the fingerprint `make` returned)."""
    root = os.path.join(build_dir, "corpus", name)
    stamp = os.path.join(root, "fingerprint")
    if not os.path.exists(stamp):
        shutil.rmtree(root, ignore_errors=True)
        fingerprint = make(os.path.join(root, "data"))
        with open(stamp, "w") as f:
            f.write(fingerprint)
    with open(stamp) as f:
        return os.path.join(root, "data"), f.read()


def stream_oracle(query, inputs, watermark):
    """DuckDB SQL for what a stream query must have written: the batch
    answer over all its input, for the windowed aggregate only the windows
    that closed under the last watermark the query used."""
    src = f"read_parquet('{inputs}/*.parquet')"
    if query == "stream_window_agg":
        closed = (f"window_start + INTERVAL 1 SECOND <= CAST('{watermark}' AS TIMESTAMPTZ)"
                  if watermark else "false")
        return (f"SELECT * FROM (SELECT date_trunc('second', ts) AS window_start, event_type, "
                f"count(*) AS n_events, sum(amount) AS sum_value FROM {src} GROUP BY 1, 2) "
                f"WHERE {closed}")
    if query == "stream_band_join":
        return (f"SELECT value AS k, ts AS lts, rts, payload FROM {src} "
                f"WHERE rts >= ts AND rts <= ts + INTERVAL 1 SECOND")
    return rf"""
        WITH docs AS (
          SELECT value AS doc_id, ts, text,
                 CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT)
                   AS n_tokens
          FROM {src}),
        kept AS (
          SELECT * FROM docs WHERE n_tokens BETWEEN 10 AND 100000
          QUALIFY row_number() OVER (
            PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
            ORDER BY ts, doc_id) = 1),
        bucketed AS (
          SELECT doc_id, n_tokens, ts, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                 ::BIGINT % 32 AS INTEGER) AS bucket
          FROM kept)
        SELECT doc_id, n_tokens, bucket,
               coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY ts, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS shard
        FROM bucketed"""


def jvm(classpath, run_dir, harness_args, deadline):
    """Run the harness in a JVM with empty scratch, local and temporary
    directories of its own. Returns (the record it wrote, launch time)."""
    own = os.path.join(run_dir, "jvm")
    for d in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(own, d))
    out = os.path.join(own, "record.json")
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(own, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(own, "local"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={own}/tmp"] + JVM_OPTS
           + ["-cp", os.pathsep.join(classpath), "perfbench.Harness",
              "--run_dir", own, "--out", out] + harness_args)
    log = os.path.join(own, "jvm.log")
    with open(log, "w") as f:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"the harness JVM did not finish within {DEADLINE_S} s")
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            text = f.read()
        causes = [ln for ln in text.splitlines() if "Exception" in ln and "\tat " not in ln]
        sys.stderr.write("\n".join(causes[:10]) + "\n" + text[-2000:])
        raise BenchError(f"the harness JVM exited with {code}")
    with open(out) as f:
        rec = json.load(f)
    rec["exit_s"] = time.time() - os.path.getmtime(out)
    return rec, launched


def run(args):
    t_start = time.time()
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    queries = wl["queries"]
    build_dir = os.path.abspath(os.path.join(".bench_build", "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    source_key, classpath = build(build_dir)
    deadline = time.time() + DEADLINE_S

    run_dir = os.path.join(build_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        corpus_dir, fingerprint = prepared(build_dir, f"sf{wl['sf']}-seed{args.seed}",
                                           lambda d: corpus.generate(d, args.seed, wl["sf"]))
        stream_dir, stream_fp = prepared(build_dir, f"stream-seed{args.seed}",
                                         lambda d: corpus.stream_inputs(d, args.seed))
        cpus = cpu_count()
        results = os.path.join(run_dir, "results")
        common = ["--corpus", corpus_dir, "--stream_input", stream_dir, "--cpus", str(cpus)]
        t_jvm = time.time()
        rec, launched = jvm(classpath, run_dir, common + [
            "--queries", ",".join(queries), "--mode", wl["mode"],
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--results", results], deadline)
        rec["setup_s"] = rec["ready_ms"] / 1e3 - launched
        t_oracle = time.time()

        oracle_sql = dict(rec["oracle"])
        for r in rec["stream_runs"]:
            oracle_sql[r["query"]] = stream_oracle(r["query"], stream_dir, r["watermark"])
        verdicts = oracle.check(corpus_dir, f"{fingerprint}-{stream_fp}", results,
                                oracle_sql, os.path.join(build_dir, "oracle"))
        for q, why in rec["verify_errors"].items():
            verdicts[q] = why
        timed = rec["execs"]
        threw = [e for e in timed if e["error"]]
        wrong = sorted(q for q in queries if verdicts.get(q, "not checked"))
        attempted = len(timed)
        failed = len(threw) + len(wrong)

        if args.trace:
            metrics = per_layer(rec, wl["mode"])
            extra = {}
        else:
            metrics, extra = end_to_end(rec)
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "queries": queries,
            "executed": sorted({e["query"] for e in timed}),
            "passes": rec["passes"],
            "query_s": {q: statistics.median(e["seconds"] for e in timed if e["query"] == q)
                        for q in queries if any(e["query"] == q for e in timed)},
            "errors": {e["query"]: e["error"] for e in threw},
            "oracle_failures": {q: verdicts.get(q, "not checked") for q in wrong},
            "env": dict(rec["env"], commit=git_commit(), source_digest=source_key,
                        nproc=cpu_count(), heap=HEAP, seed=args.seed,
                        corpus_sf=wl["sf"], corpus_fingerprint=fingerprint,
                        stream_input_fingerprint=stream_fp,
                        calibration=rec["calibration"]),
            "phase_s": {"prepare": t_jvm - t_start, "jvm": t_oracle - t_jvm,
                        "setup": rec["setup_s"],
                        "loop": rec["loop_s"], "verify": rec["verify_s"],
                        "kernels": rec["kernels_s"],
                        "exit": rec["exit_s"],
                        "oracle": time.time() - t_oracle},
            **extra,
        }
        keep = os.path.join(build_dir, "last", f"{args.workload}-trace{args.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        shutil.copy(os.path.join(run_dir, "jvm", "record.json"), keep)
        if os.path.exists(os.path.join(run_dir, "jvm", "spans.jsonl")):
            shutil.copy(os.path.join(run_dir, "jvm", "spans.jsonl"), keep)
        with open(os.path.join(keep, "detail.json"), "w") as f:
            json.dump(detail, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(detail))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        result = run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
