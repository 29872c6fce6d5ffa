#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <loader|curate>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the harness
from source with sbt (`perfbench/build.sbt`); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the
seed under `.bench_work/`, starts one JVM on `local[<cores>]` that drives
graft's public entry points as a closed loop (one client, calls back to
back), checks every output outside the timed region, and deletes its files.

The last line of stdout is `{"correct", "attempted", "failed", "metrics"}`:
the end-to-end metrics with `--trace 0`, the per-layer metrics from a
traced run with `--trace 1`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "bench-classpath.txt")
WORKLOADS = ["loader", "curate"]
# WARM_OPS untimed warm-up ops, then at least MIN_OPS timed ops; the loop
# keeps going while --seconds have not passed. The JIT keeps compiling for
# several ops: after the cold first loader op, the next ones fall from
# about 5 s to about 3.7 s, and in that stretch they keep three of four
# cores busy, so load from other machines on the host inflates them most.
# The loader therefore times only ops from its fourth on; curate ops
# level off after the first timed one. Load still inflates some timed ops,
# so the end-to-end metrics take the best one.
WARM_OPS = {"loader": 3, "curate": 1}
MIN_OPS = {"loader": 4, "curate": 3}
# Hard wall for one run after the build; a run must end within 180 s.
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(SRC, "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                              recursive=True))
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft plus the harness; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime / fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def run_jvm(cp, inputs, work, result, deadline):
    cores = os.cpu_count() or 1
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Harness", inputs, work, result]
    launched = time.time()
    proc = subprocess.Popen(cmd, cwd=work, env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True)

    def stop(signum, _frame):
        raise SystemExit("perfbench: stopped by signal %d" % signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        sys.stderr.write(proc.communicate()[0][-6000:])
        raise SystemExit("perfbench: harness exceeded the run limit")
    finally:
        # the JVM never outlives this process, whatever ended the wait
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    if proc.returncode != 0 or not os.path.isfile(result):
        sys.stderr.write(out[-6000:])
        raise SystemExit("perfbench: harness failed (rc %d)" % proc.returncode)
    with open(result) as f:
        return json.load(f), launched


def oracle_failures(tables, out_dir, probes):
    """Probe names whose engine output differs from the DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                    % (t, tables, t))
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    bad = []
    for name in probes:
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        try:
            eng = con.execute("SELECT * FROM read_parquet(%r)" % files).fetchall()
            ecols = [d[0] for d in con.description]
            ora = con.execute(sql[name]).fetchall()
            ocols = [d[0] for d in con.description]
        except Exception as e:  # a failed query is a failed check
            log("oracle %s: %s" % (name, e))
            bad.append(name)
            continue
        order = sorted(range(len(ecols)), key=lambda i: ecols[i])
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
        if sorted(ecols) != sorted(ocols) or \
                [tuple(r[i] for i in order) for r in eng] != \
                [tuple(r[i] for i in oorder) for r in ora]:
            log("oracle %s: result differs" % name)
            bad.append(name)
    return bad


def op_failures(workload, op, expected, warm):
    """Names of the failed output checks of one timed op; `warm` holds the
    warm-up ops' details."""
    d = op["detail"]
    bad = []
    if workload == "loader":
        if d["rc"] != [0, 0, 0, 0, 0]:
            bad.append("exit codes %s" % d["rc"])
        for key in ["ls", "restore", "archive", "archive_rerun"]:
            if sorted(d[key]) != sorted(expected[key]):
                bad.append(key)
        if d["clean"] != [expected["clean"]]:
            bad.append("clean")
        if d["catalog"] != sorted(expected["published"] + ["_archive"]):
            bad.append("catalog")
    elif workload == "curate":
        if d["read_sequences"] != d["n_sequences"] or \
                d["read_tokens"] != d["n_tokens"] or d["n_sequences"] <= 0:
            bad.append("shards read-back")
        for st, n in expected["stages"].items():
            if d["stage_counts"].get(st) != n:
                bad.append("%s %s != %d" % (st, d["stage_counts"].get(st), n))
        # the output is a function of the seed: every op repeats the
        # warm-up op's counts
        for w in warm:
            for key in ["stage_counts", "n_sequences", "n_tokens"]:
                if d[key] != w[key]:
                    bad.append("%s differs from the warm-up op" % key)
    return bad


# End-to-end metrics and their units; BENCHMARK.json fixes their bounds.
END_TO_END = {"op_wall_nosteal_best_s": "s", "op_cpu_best_s": "s",
              "setup_s": "s"}

# Row counts `Curate.run` reports under the default configuration.
CURATE_STAGES = ["exact_dedup", "near_dup", "decontaminated", "chunks"]
LOADER_SPANS = ["ls", "restore", "clean", "archive", "archive_rerun"]

PER_LAYER = (
    ["setup_wall_s", "op_wall_p50_s", "op_jit_cpu_s", "op_steal_frac",
     "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_per_stage",
     "spark.driver_gap_s", "spark.exec_run_s", "spark.core_util",
     "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
     "spark.spill_mb", "spark.task_skew_max"]
    + [p + m for m in metrics.MODULES for p in ("jobs.", "job_s.")]
    + ["loader.%s_s" % n for n in LOADER_SPANS]
    + ["loader.refresh_s", "loader.relational_s", "loader.dbs_published",
       "loader.payloads_invalid", "loader.rows_appended",
       "loader.archive_fresh_ratio", "loader.published_mb"]
    + ["probe.%s_s" % q for q in gen.RELATIONAL + list(gen.EXT_PROBES)]
    + ["curate.rows." + st for st in CURATE_STAGES]
    + ["curate.admit_ratio", "curate.tokens", "curate.sequences",
       "curate.shard_mb", "curate.docs_per_s"]
    + ["increment.batch_s", "increment.jobs_per_batch",
       "increment.driver_gap_s", "increment.admit_ratio",
       "increment.exact_reject_ratio", "increment.near_reject_ratio",
       "increment.state_mb", "increment.state_write_mb_per_batch",
       "increment.docs_per_s"]
    + ["trace.attributed_frac", "trace.overhead_frac"])


def unit_of(name):
    if name.startswith("job_s."):
        return "s"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith("_mb_per_batch"):
        return "MB"
    if name.endswith(("_ratio", "_frac", "core_util", "skew_max")):
        return "ratio"
    return "count"


def end_to_end(res):
    """`op_wall_nosteal_best_s`: wall seconds of the fastest timed op, less
    the share of them the hypervisor took from the machine's cores. CPU
    seconds outside the JIT compiler threads: `op_cpu_best_s` of the
    cheapest timed op, `setup_s` from JVM start to the first timed op."""
    return {"op_wall_nosteal_best_s": min(
                o["seconds"] * (1 - metrics.steal_share(o))
                for o in res["ops"]),
            "op_cpu_best_s": min(o["cpu_s"] - o["jit_cpu_s"]
                                 for o in res["ops"]),
            "setup_s": res["setup_cpu_s"] - res["setup_jit_cpu_s"]}


def per_layer(workload, res, files, expected, launched):
    """Per-layer metrics of a traced run; a metric of a layer the workload
    does not run reads 0."""
    cores = os.cpu_count() or 1
    tr = res["trace"]
    traced_ops = [o for o in res["ops"] if o["traced"]]
    plain_ops = [o for o in res["ops"] if not o["traced"]]
    spans = [s for s in tr["spans"] if s["traced"]]
    jobs = [j for j in tr["jobs"] if j["end"] >= 0]

    def within(name):
        ss = [s for s in spans if s["name"] == name]
        return ss, [j for j in jobs if metrics.innermost(ss, j["start"])]

    op_spans, op_jobs = within("op." + workload)
    n = len(traced_ops)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["setup_wall_s"] = res["ready_ms"] / 1e3 - launched
    m["op_wall_p50_s"] = metrics.median([o["seconds"] for o in res["ops"]])
    m["op_jit_cpu_s"] = metrics.median([o["jit_cpu_s"] for o in res["ops"]])
    m["op_steal_frac"] = metrics.median(
        [metrics.steal_share(o) for o in res["ops"]])
    m.update(metrics.spark_layer(op_jobs, tr["stages"], op_spans, cores, n))
    # module attribution covers the whole traced part of the run: its
    # traced ops plus the extra pass (loader: the relational probes;
    # curate: the increment batches)
    m.update(metrics.module_layer(jobs, spans, files, 1))
    others = sorted({f for j in jobs for f in metrics.callsite_files(j)[:1]
                     if metrics.attribute(j, files, None) == "other"})
    if others:
        log("jobs attributed to other modules: %s" % " ".join(others))
    med_on = metrics.median([o["seconds"] for o in traced_ops])
    med_off = metrics.median([o["seconds"] for o in plain_ops]) \
        if plain_ops else med_on
    m["trace.overhead_frac"] = med_on / med_off - 1
    details = [o["detail"] for o in traced_ops]
    d = details[0]

    if workload == "loader":
        for name in LOADER_SPANS:
            ss, _ = within("loader." + name)
            m["loader.%s_s" % name] = sum(
                s["end"] - s["start"] for s in ss) / 1e3 / n
        m["loader.refresh_s"] = metrics.median(
            [o["seconds"] for o in traced_ops])
        probe_s = res["final_checks"]["relational"]["probe_s"]
        rel = {k: v for k, v in probe_s.items()
               if k.split("_")[0] in gen.RELATIONAL}
        m["loader.relational_s"] = sum(rel.values())
        m["loader.dbs_published"] = sum(
            l.endswith("[restored]") for l in d["restore"])
        m["loader.payloads_invalid"] = sum(
            l.endswith("[invalid]") for l in d["restore"])
        m["loader.rows_appended"] = sum(
            int(l.split()[1]) for l in d["archive"])
        m["loader.archive_fresh_ratio"] = \
            d["archived_rows"]["events"] / d["events_scanned"]
        m["loader.published_mb"] = d["published_bytes"] / 1e6
        for q in gen.RELATIONAL + list(gen.EXT_PROBES):
            m["probe.%s_s" % q] = sum(v for k, v in probe_s.items()
                                      if k.startswith(q + "_"))

    if workload == "curate":
        sc = d["stage_counts"]
        for st in CURATE_STAGES:
            m["curate.rows." + st] = sc.get(st, 0)
        m["curate.admit_ratio"] = sc["decontaminated"] / expected["docs"]
        m["curate.tokens"] = d["n_tokens"]
        m["curate.sequences"] = d["n_sequences"]
        m["curate.shard_mb"] = d["shard_bytes"] / 1e6
        m["curate.docs_per_s"] = expected["docs"] / metrics.median(
            [o["seconds"] for o in traced_ops])
        # the last increment batch, warm, against grown state
        inc = res["final_checks"]["increment"][-1]
        b_spans, b_jobs = within("increment.batch")
        b_span = b_spans[-1:]
        b_jobs = [j for j in b_jobs if metrics.innermost(b_span, j["start"])]
        sub = metrics.spark_layer(b_jobs, tr["stages"], b_span, cores, 1)
        ic = inc["stage_counts"]
        batch_s = (b_span[0]["end"] - b_span[0]["start"]) / 1e3
        m["increment.batch_s"] = batch_s
        m["increment.jobs_per_batch"] = sub["spark.jobs"]
        m["increment.driver_gap_s"] = sub["spark.driver_gap_s"]
        m["increment.admit_ratio"] = inc["ledger"].get("true", 0) \
            / ic["ingest"]
        m["increment.exact_reject_ratio"] = \
            (ic.get("quality", ic["ingest"]) - ic["exact_dedup"]) / ic["ingest"]
        m["increment.near_reject_ratio"] = \
            (ic["exact_dedup"] - ic["near_dup"]) / ic["ingest"]
        m["increment.state_mb"] = inc["heavy_bytes"] / 1e6
        m["increment.state_write_mb_per_batch"] = \
            (inc["bytes_after"] - inc["bytes_before"]) / 1e6
        m["increment.docs_per_s"] = ic["ingest"] / batch_s
    return m


def increment_failures(res, expected):
    """Batches of a traced curate run whose verdicts do not add up."""
    bad = []
    for b in (res["final_checks"].get("increment") or []):
        led, ingest = b["ledger"], b["stage_counts"]["ingest"]
        if led.get("true", 0) + led.get("false", 0) != ingest or \
                ingest != expected["batch_docs"]:
            bad.append(b["batch"])
    return bad


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(SRC, "graft")):
        raise SystemExit("perfbench: no graft sources under %s" % SRC)
    cp = build()
    started = time.time()
    run_dir = os.path.join(ROOT, ".bench_work",
                           "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        conf, expected = gen.generate(a.workload, a.seed, inputs)
        conf.update(workload=a.workload, seconds=str(a.seconds),
                    trace=str(a.trace), warm_ops=str(WARM_OPS[a.workload]),
                    min_ops=str(MIN_OPS[a.workload]))
        with open(os.path.join(inputs, "manifest.properties"), "w") as f:
            for k, v in sorted(conf.items()):
                f.write("%s=%s\n" % (k, v))
        result = os.path.join(run_dir, "result.json")
        res, launched = run_jvm(cp, inputs, work, result,
                                started + RUN_LIMIT_S)
        log("phases: jvm %.1fs session %.1fs footers %.1fs prepare %.1fs "
            "warm-up %.1fs, %d ops %s" % (
                res["main_ms"] / 1e3 - launched,
                (res["session_ms"] - res["main_ms"]) / 1e3,
                (res["footers_ms"] - res["session_ms"]) / 1e3,
                (res["prepared_ms"] - res["footers_ms"]) / 1e3,
                (res["ready_ms"] - res["prepared_ms"]) / 1e3,
                len(res["ops"]),
                " ".join("%.2f (cpu %.2f jit %.2f steal %.2f)" % (
                    o["seconds"], o["cpu_s"], o["jit_cpu_s"],
                    metrics.steal_share(o))
                    for o in res["ops"])))
        attempted = len(res["ops"])
        failed = 0
        for op in res["ops"]:
            bad = op_failures(a.workload, op, expected, res["warm"])
            if bad:
                log("op %d failed checks: %s" % (op["index"], bad))
                failed += 1
        probe_out = res["final_checks"].get("probe_out")
        if probe_out:
            names = sorted(os.listdir(probe_out))
            names = [n for n in names if os.path.isdir(
                os.path.join(probe_out, n))]
            bad = oracle_failures(os.path.join(inputs, "tables"), probe_out,
                                  names)
            attempted += len(names)
            failed += len(bad)
        if a.trace:
            batches = res["final_checks"].get("increment") or []
            bad = increment_failures(res, expected)
            attempted += len(batches)
            failed += len(bad)
            values = per_layer(a.workload, res, metrics.file_modules(SRC),
                               expected, launched)
            units = {k: unit_of(k) for k in PER_LAYER}
        else:
            values = end_to_end(res)
            units = END_TO_END
        out = {"correct": failed == 0, "attempted": attempted,
               "failed": failed,
               "metrics": {k: {"value": values[k], "unit": units[k]}
                           for k in units}}
        print(json.dumps(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)



if __name__ == "__main__":
    main()
