#!/usr/bin/env python3
"""Curation benchmark for graft: one command, three workloads.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the benchmark from
source into `.bench_build/` (skipped when the sources are unchanged),
generates the seeded corpus, runs one JVM that sets up and then times a
closed loop with one client for `--seconds`, checks every operation's
output against the query's registered DuckDB oracle, and prints one JSON
line last: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they
are the per-layer ones from the spans and Spark listeners.

Workloads and corpus parameters live in `perfbench/workloads.json`.
`--smoke` runs every workload on a tiny corpus through the oracle check;
`--record W` writes an untraced and a traced run of W to
`perfbench/traces/W.json`.
"""
import argparse
import ast
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


SPARK_JARS = os.path.join(spark_home(), "jars")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# A fixed heap with a fixed young generation under the parallel collector,
# not pre-touched: the young generation is touched in full by the first
# collections, and the old generation only up to its high-water mark, as
# promotion fills it from the bottom. So peak RSS follows the data the run
# keeps, plus native memory (metaspace, code cache, threads, direct and
# Arrow buffers), and full collections stay rare.
HEAP = "1536m"
YOUNG = "384m"
# set-up repetitions per run; setup_s takes their median
SETUP_REPS = 3
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s",
              "cpu_s": "s", "peak_rss_mb": "MB"}


def workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    found = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not found:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from a full checkout of the repository")
    return found + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build():
    """Compile the engine and the benchmark with the Scala compiler that
    ships in Spark's jars; reuse the classes while the sources match."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    log(f"building {len(srcs)} sources into {out}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
                    "-Ybackend-parallelism", "4", f"@{argfile}"],
                   check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return out


def load_canon():
    """The canonical row form of the repository's oracle gate
    (`tools/check.py`), so both gates hash results identically."""
    path = os.path.join(ROOT, "tools/check.py")
    tree = ast.parse(open(path).read(), path)
    fn = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon"]
    ns = {}
    exec(compile(ast.Module(body=fn, type_ignores=[]), path, "exec"), ns)
    return ns["canon"]


def result_hash(canon, cols, rows):
    h = hashlib.sha256()
    for line in canon(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def spark_hash(canon, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(f"{path}/*.parquet"))
    t = pa.concat_tables([pq.read_table(f) for f in files])
    rows = [tuple(c[i].as_py() for c in t.columns) for i in range(t.num_rows)]
    return result_hash(canon, t.column_names, rows)


def oracle_hashes(canon, data, work, oracle):
    """Hash of each query's oracle result on the generated tables. The
    result is a function of the tables and the SQL alone, so it is
    cached under the build directory by their digest."""
    digest = hashlib.sha256()
    for t in ("documents", "embeddings"):
        with open(f"{data}/{t}.parquet", "rb") as f:
            digest.update(f.read())
    cache = os.path.join(build_dir(), "oracle_cache")
    os.makedirs(cache, exist_ok=True)
    keys = {name: hashlib.sha256(digest.digest() + sql.encode()).hexdigest()
            for name, sql in oracle.items()}
    out = {}
    for name, key in keys.items():
        path = os.path.join(cache, key)
        if os.path.exists(path):
            out[name] = open(path).read()
    todo = {name: sql for name, sql in oracle.items() if name not in out}
    if todo:
        for name, h in run_oracles(canon, data, work, todo).items():
            with open(os.path.join(cache, keys[name]), "w") as f:
                f.write(h)
            out[name] = h
    return out


def run_oracles(canon, data, work, oracle):
    import duckdb
    con = duckdb.connect()
    con.sql("SET memory_limit='2GB'")
    con.sql("SET threads=4")
    con.sql(f"SET temp_directory='{work}/duckdb_tmp'")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for name, sql in sorted(oracle.items()):
        t0 = time.time()
        # DuckDB re-evaluates a plain CTE on every step of a recursive
        # CTE that reads it; the near-dup pair CTE feeds the connected-
        # components recursion, so evaluate it once. The result is the same.
        rel = con.sql(re.sub(r"(?m)^pairs AS \(", "pairs AS MATERIALIZED (", sql))
        out[name] = result_hash(canon, rel.columns, rel.fetchall())
        log(f"oracle {name}: {time.time() - t0:.2f} s")
    con.close()
    return out


def tail(values):
    """Highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples). With fewer than 21 samples that
    percentile would sit at or below the median, so the maximum is
    reported instead."""
    v = sorted(values)
    n = len(v)
    k = n - 11 if n >= 21 else n - 1
    return v[k], 100.0 * (k + 1) / n, n


def run_once(workload, seed, seconds, trace, corpus=None):
    w = workloads()[workload]
    classes = build()
    canon = load_canon()
    entry_load = open("/proc/loadavg").read().split()[:3]
    work = os.path.join(build_dir(), "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    for d in (data, os.path.join(work, "tmp"), os.path.join(work, "graft_tmp")):
        os.makedirs(d)
    summary = gen.generate(data, seed, corpus or w["corpus"])
    args = ["workload", workload, "data", data, "work", work, "seconds", str(seconds),
            "trace", "1" if trace else "0", "cpus", str(os.cpu_count()),
            "reps", str(SETUP_REPS), "parts", str(w.get("parts", 1)),
            "queries", ",".join(w.get("queries", []))]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Xmn{YOUNG}",
            "-XX:-UseAdaptiveSizePolicy", "-Xss8m",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dperfbench.tmp={work}/graft_tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{SPARK_JARS}/*", "graft.perfbench.Main"] + args)
    try:
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            proc = subprocess.run(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work,
                                  timeout=170)
        if proc.returncode != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
        res = json.load(open(os.path.join(work, "result.json")))
        expected = oracle_hashes(canon, data, work, res["oracle"])

        def check(outs, bad=None):
            hashes = {}
            for o in outs:
                hashes[o["query"]] = spark_hash(canon, o["path"])
                if hashes[o["query"]] != expected[o["query"]]:
                    bad = bad or f"{o['query']}: {hashes[o['query']]} != oracle {expected[o['query']]}"
            return bad, hashes

        checked = []
        for op in res["ops"]:
            bad, hashes = check(op["outs"], op["error"])
            if bad:
                log(f"op {op['i']} failed: {bad}")
            checked.append((op, bad, hashes))
        info = {"corpus": summary, "entry_loadavg": entry_load}
        if "attribution" in res:
            # the traced curate run's stage-by-stage pass must agree too
            bad, _ = check(res["attribution"])
            if bad:
                log(f"attribution pass failed: {bad}")
            info["attribution_ok"] = not bad
        return res, checked, info
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(workload, res, checked, docs):
    ok = [op for op, bad, _ in checked if not bad]
    if workload == "stream_ingest":
        # the operation is one micro-batch; a failed call fails its batches
        lat = [b["ms"]["triggerExecution"] / 1000.0 for b in res["batches"]]
        lat = lat or [op["latency_s"] for op, _, _ in checked]
        per_call = len(lat) / max(len(checked), 1)
        attempted = len(lat) or len(checked)
        failed = round(sum(1 for _, bad, _ in checked if bad) * per_call)
    else:
        lat = [op["latency_s"] for op, _, _ in checked]
        attempted, failed = len(checked), len(checked) - len(ok)
        if workload == "curate":  # work is counted in input documents
            ok = [dict(op, units=docs) for op in ok]
    tail_v, tail_p, n = tail(lat)
    setup = res["session_s"] + statistics.median(res["setup_reps_s"])
    metrics = {
        "setup_s": setup,
        "throughput_per_s": sum(op["units"] for op in ok) / res["timed_s"],
        "latency_p50_s": statistics.median(lat),
        "cpu_s": res["cpu_s"] / max(attempted, 1),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    detail = {"latency_tail_s": tail_v, "latency_tail_pct": tail_p, "latency_samples": n,
              "latencies_s": lat,
              "error_rate": failed / attempted if attempted else 1.0,
              "ops": len(checked), "timed_s": res["timed_s"], "session_s": res["session_s"],
              "setup_reps_s": res["setup_reps_s"],
              "peak_pools_mb": res["peak_pools_mb"],
              "loadavg_jvm_entry": res["loadavg"], "steal_s": res["steal_s"]}
    return metrics, attempted, failed, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if a.record:
        return record(a.record, a.seed, a.seconds)
    if a.workload not in workloads():
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}")
    res, checked, info = run_once(a.workload, a.seed, a.seconds, a.trace == 1)
    metrics, attempted, failed, detail = end_to_end(a.workload, res, checked, info["corpus"]["docs"])
    detail.update(info)
    print(json.dumps({"detail": detail}))
    if a.trace:
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    correct = failed == 0 and info.get("attribution_ok", True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


def layer_unit(name):
    """Unit of a per-layer metric, from its name."""
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith(("_frac", "_share")) or last == "verified_per_candidate":
        return "ratio"
    if last == "rows_per_batch":
        return "rows"
    return "count"


def smoke():
    """Every workload on a tiny corpus, through the oracle check."""
    bad = 0
    for name, w in workloads().items():
        corpus = dict(w["corpus"], n_docs=600, n_vecs=300)
        res, checked, info = run_once(name, 7, 1, False, corpus=corpus)
        metrics, attempted, failed, _ = end_to_end(name, res, checked, info["corpus"]["docs"])
        print(f"{name}: attempted={attempted} failed={failed} "
              f"p50={metrics['latency_p50_s']:.3f}s")
        bad += failed
    print("SMOKE OK" if bad == 0 else f"SMOKE FAILED ({bad})")
    return 0 if bad == 0 else 1


def record(workload, seed, seconds):
    """Untraced and traced run of one workload on one seed, written to
    perfbench/traces/<workload>.json with the per-layer table."""
    runs = {}
    for trace in (False, True):
        res, checked, info = run_once(workload, seed, seconds, trace)
        metrics, attempted, failed, detail = end_to_end(workload, res, checked,
                                                        info["corpus"]["docs"])
        runs[trace] = (res, checked, metrics, attempted, failed, detail, info)
    plain, traced = runs[False], runs[True]
    hashes = lambda r: sorted({json.dumps(h, sort_keys=True) for _, _, h in r[1]})
    doc = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "untraced": {"metrics": plain[2], "attempted": plain[3], "failed": plain[4],
                     "detail": plain[5], "corpus": plain[6]["corpus"]},
        "traced": {"metrics": traced[2], "attempted": traced[3], "failed": traced[4],
                   "detail": traced[5]},
        "output_hashes_equal": hashes(plain) == hashes(traced),
        "attribution_ok": traced[6].get("attribution_ok"),
        "tracing_overhead": {
            "latency_p50_s": traced[2]["latency_p50_s"] - plain[2]["latency_p50_s"],
            "latency_p50_share": traced[2]["latency_p50_s"] / plain[2]["latency_p50_s"] - 1.0},
        "layers": traced[0]["layers"],
        "spans": traced[0]["spans"],
    }
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    with open(os.path.join(HERE, "traces", f"{workload}.json"), "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: doc[k] for k in ("workload", "output_hashes_equal", "tracing_overhead")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
