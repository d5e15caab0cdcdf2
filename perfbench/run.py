#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <registry|serve-mixed>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (into
.bench_build/), runs the workload in a fresh JVM under a watchdog, checks
its outputs, and prints as its last stdout line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The full record of the run, stamped with the machine, JVM
and source it ran on, goes to .bench_work/results/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import stats  # noqa: E402

WORKLOADS = ("registry", "serve-mixed")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
XMX = "3g"
# A harness still running this long after the build is killed and its run
# counted as failed, so that every run ends within three minutes.
WATCHDOG_S = 160

REGISTRY_MODULES = ("Queries", "DedupQueries", "PipelineQueries", "RetrievalQueries",
                    "CurationQueries", "AnalyticsQueries", "OwnershipQueries",
                    "SelectionQueries", "AuditQueries")
NAMED_QUERIES = ("q22", "q37", "q107", "q117", "q131")
E2E = ("setup_s", "latency_p50_ms", "latency_geomean_ms", "throughput_ops_s")

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "--add-modules=jdk.incubator.vector", f"-Xmx{XMX}", "-Xss4m",
    "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads from the checkout."""
    paths = [os.path.join(ROOT, "perfbench", "build.sh")]
    for top in ("src/main/scala", "perfbench/harness", "lib"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            paths += [os.path.join(d, f) for f in sorted(files)]
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the class directory."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources (src/main/scala) to build")
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "sources.sha256")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    log("building engine and harness")
    t0 = time.time()
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, spark_jars()], cwd=ROOT,
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def cpu_times():
    """The machine's CPU time counters, from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(before, after):
    """Share of the machine's CPU time that the hypervisor gave to other
    guests between two readings (the 8th counter, steal)."""
    if not before or not after or len(before) < 8:
        return None
    total = sum(after[:8]) - sum(before[:8])
    return (after[7] - before[7]) / total if total > 0 else None


def run_jvm(classes, args, work, deadline):
    """Run the harness; None when it failed or the watchdog killed it."""
    out = os.path.join(work, "raw.json")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-cp", f"{classes}:{ROOT}/lib/graft-simd.jar:{spark_jars()}/*",
           "perfbench.Main", *args, "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("watchdog: harness did not finish, killing it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    if proc.returncode != 0 or not os.path.exists(out):
        log(f"harness exited with {proc.returncode}")
        return None
    with open(out) as f:
        return json.load(f)


def oracle_check(out_dir, data_dir):
    """DuckDB oracle for every subset query that has one: (ok, failed, hashes)."""
    import check_oracle
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    ok, bad, hashes = 0, [], {}
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        sdf = pq.read_table(qdir).to_pandas()
        rows = [tuple(r) for r in sdf.itertuples(index=False, name=None)]
        hashes[name] = stats.canonical_hash(rows, list(sdf.columns))
        if name not in oracle:
            continue
        try:
            ddf = con.execute(oracle[name]).df()
            want = check_oracle.canon([tuple(r) for r in ddf.itertuples(index=False, name=None)],
                                      list(ddf.columns))
            same = check_oracle.canon(rows, list(sdf.columns)) == want
        except Exception as e:  # an oracle error is a failed check
            log(f"oracle {name}: {e}")
            same = False
        if same:
            ok += 1
        else:
            bad.append(name)
    return ok, bad, hashes


def end_to_end(raw):
    ops = raw["samples"].get("op", [])
    return {
        "setup_s": stats.median(raw["setup_s"]),
        "latency_p50_ms": stats.median(ops),
        "latency_geomean_ms": stats.geomean(ops),
        "throughput_ops_s": len(ops) / raw["measure_s"] if raw["measure_s"] else 0.0,
    }


def per_layer(raw, e2e):
    """Every per-layer metric; 0 where the workload does not reach the layer."""
    m = {}
    attr = stats.Attribution(raw["trace"])
    passes = max(1, len(raw["samples"].get("pass", [])))
    for mod in REGISTRY_MODULES:
        t = attr.totals(lambda n, mod=mod: n.startswith(mod + "/"))
        m[f"{mod}.wall_s"] = t["wall_ms"] / 1e3 / passes
        m[f"{mod}.jobs"] = t["jobs"] / passes
        m[f"{mod}.stages"] = t["stages"] / passes
        m[f"{mod}.shuffle_mb"] = t["shuffle_b"] / 2**20 / passes
        m[f"{mod}.exec_s"] = t["exec_ms"] / 1e3 / passes
        m[f"{mod}.plan_s"] = t["plan_ms"] / 1e3 / passes
        m[f"{mod}.driver_s"] = t["driver_ms"] / 1e3 / passes
    for q in NAMED_QUERIES:
        xs = [v for k, v in raw["samples"].items() if k.split("/")[-1].split("_")[0] == q]
        m[f"query.{q}_s"] = stats.median(xs[0]) / 1e3 if xs else 0.0
    reg = attr.totals(lambda n: n.split("/")[0] in REGISTRY_MODULES)
    m["registry.spill_mb"] = reg["spill_b"] / 2**20 / passes
    m["registry.pass_s"] = stats.median(raw["samples"].get("pass", [])) / 1e3

    def per_request(name, fields):
        t = attr.totals(lambda n: n == name)
        n = max(1.0, t["count"])
        return {f: t[f] / n for f in fields}
    for f, v in per_request("search", ("jobs", "stages", "tasks", "exec_ms", "plan_ms",
                                       "driver_ms")).items():
        m[f"server.search_{f}"] = v
    for op in ("upload", "delete"):
        t = per_request(op, ("jobs", "plan_ms", "driver_ms"))
        m[f"server.{op}_jobs"] = t["jobs"]
        m[f"server.{op}_plan_ms"] = t["plan_ms"]
        m[f"server.{op}_driver_ms"] = t["driver_ms"]
        m[f"server.{op}_p50_ms"] = stats.median(raw["samples"].get(op, []))
    b = attr.totals(lambda n: n == "IvfIndex.build")
    builds = max(1.0, b["count"])
    m["IvfIndex.build_s"] = b["wall_ms"] / 1e3 / builds
    m["IvfIndex.build_jobs"] = b["jobs"] / builds
    m["IvfIndex.build_exec_s"] = b["exec_ms"] / 1e3 / builds
    m["IvfIndex.build_driver_s"] = b["driver_ms"] / 1e3 / builds
    a = attr.totals(lambda n: n == "IvfIndex.assign")
    m["IvfIndex.assign_s"] = a["wall_ms"] / 1e3 / max(1.0, a["count"])
    w = attr.totals(lambda n: n == "IvfBinarySource.write")
    m["IvfBinarySource.write_s"] = w["wall_ms"] / 1e3 / max(1.0, w["count"])
    sb = attr.totals(lambda n: n == "IvfIndex.searchBatch")
    m["IvfIndex.searchBatch_exec_s"] = sb["exec_ms"] / 1e3 / max(1.0, sb["count"])
    for k in ("SearchService.search_ms", "SearchService.rows_scanned_per_result",
              "SearchService.deleteDocuments_ms", "Streams.chunkEmbed_ms", "Streams.chunks_per_doc",
              "ParquetStore.files", "ParquetStore.mb", "ParquetStore.write_amp",
              "IvfBinarySource.files", "IvfBinarySource.mb", "IvfBinarySource.write_amp",
              "serve.store_bytes_per_doc_byte", "IvfIndex.lists", "IvfIndex.probe_us",
              "IvfIndex.list_rows_max", "IvfIndex.list_rows_p50", "IvfIndex.rows_scanned_per_query",
              "IvfIndex.recall_at_10", "IvfBinarySource.write_mb",
              "VectorKernels.cosine_ns", "VectorKernels.cosineFast_ns", "VectorKernels.quantize_ns",
              "VectorKernels.dequantize_ns", "VectorKernels.noopEmbed_us",
              "jvm.gc_s", "jvm.heap_peak_mb", "jvm.rss_peak_mb"):
        m[k] = raw["values"].get(k, 0.0)
    # this traced run's own end-to-end figures: against the untraced
    # runs' figures they give the tracing overhead
    for k in E2E:
        m[f"traced.{k}"] = e2e[k]
    return m


SUFFIX_UNITS = (("_ops_s", "1/s"), ("_ms", "ms"), ("_us", "us"), ("_ns", "ns"), ("_mb", "MB"),
                (".mb", "MB"), ("_s", "s"))


def unit_of(name):
    for suffix, unit in SUFFIX_UNITS:
        if name.endswith(suffix):
            return unit
    if name.endswith(("recall_at_10", "write_amp", "_per_doc", "_per_result",
                      "_per_query", "_per_doc_byte")):
        return "ratio"
    return "count"


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown (not a git checkout)"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build()
    deadline = time.time() + WATCHDOG_S
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    data_dir = os.path.join(work, "data")
    if a.workload == "registry":
        import datagen
        os.makedirs(data_dir)
        datagen.write(a.seed, data_dir)
        args += ["--data", data_dir]

    cpu0 = cpu_times()
    raw = run_jvm(classes, args, work, deadline)
    steal = steal_share(cpu0, cpu_times())
    if raw is None:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 0
    attempted, failed = raw["attempted"], raw["failed"]
    record = {"stamp": dict(raw["stamp"], git_sha=git_sha(), source_sha256=source_hash()),
              "args": vars(a), "errors": raw["errors"]}
    if a.workload == "registry":
        ok, bad, hashes = oracle_check(raw["registry"]["out"], data_dir)
        attempted += ok + len(bad)
        failed += len(bad)
        record["oracle"] = {"ok": ok, "failed": bad, "result_sha256": hashes}
        log(f"oracle: {ok} ok, {len(bad)} failed {bad}")
    e2e = end_to_end(raw)
    ops = raw["samples"].get("op", [])
    tail_ms, tail_pct = stats.tail(ops)
    record["detail"] = {"ops": len(ops), "tail_ms": tail_ms, "tail_percentile": tail_pct,
                        "measure_s": raw["measure_s"], "setup_samples_s": raw["setup_s"],
                        "cpu_steal_share": steal}
    metrics = per_layer(raw, e2e) if a.trace else e2e
    record["metrics"] = metrics
    for e in raw["errors"]:
        log(f"error: {e}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"{a.workload} seed {a.seed}: {len(ops)} ops, {attempted} attempted, {failed} failed, "
        f"CPU steal {steal if steal is None else round(steal, 3)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
