"""Statistics, job attribution and per-layer metrics for the graft benchmark.

The harness writes raw records (spans around every public call, Spark jobs
and per-stage task sums); everything here is plain arithmetic over them, so
it can be tested without a JVM.
"""
import os
import re

# Modules that trigger Spark actions, as named in the per-layer metrics.
# `other` collects named graft modules outside this list.
MODULES = ["pipeline.Increment", "pipeline.Curate", "pipeline.Shards",
           "pipeline.Restore", "pipeline.TrainData", "Main", "core.Ops",
           "probes", "operators.Dedup", "operators.Bpe", "operators.Curation",
           "operators.TextStats", "operators.Unigram", "operators.Similarity",
           "operators.KnnGraph", "other"]

# Files that are part of the probe layer although they live elsewhere:
# the probes call them and nothing else in a workload does (`Tables` is
# the probes' testdata loader).
PROBE_FILES = {"pipeline/Delive.scala", "pipeline/SyncLink.scala",
               "Tables.scala"}

# The benchmark's own source: a job issued there is the final noop write of
# a frame a graft call returned, so it belongs to the enclosing span.
OWN_FILES = {"Harness.scala", "Trace.scala"}

_CALLSITE = re.compile(r" at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+")


def median(xs):
    return quantile(xs, 0.5)


def quantile(xs, q):
    """Linear-interpolation quantile (the `inclusive` method of Python's
    `statistics.quantiles`, and numpy's default)."""
    if not xs:
        raise ValueError("quantile of no values")
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def module_of_path(rel):
    """`graft/pipeline/Increment.scala` → `pipeline.Increment`; files under
    probes/ and plans/ belong to the probe layer."""
    parts = rel.replace(os.sep, "/").split("/")
    if parts and parts[0] == "graft":
        parts = parts[1:]
    if not parts or not parts[-1].endswith(".scala"):
        return None
    if "/".join(parts) in PROBE_FILES or parts[0] in ("probes", "plans"):
        return "probes"
    name = parts[-1][:-len(".scala")]
    if len(parts) == 1:
        return name
    return parts[0] + "." + name


def file_modules(src_root):
    """Maps each source file name under `src_root` to its module."""
    out = {}
    for d, _, files in os.walk(src_root):
        for f in files:
            if f.endswith(".scala"):
                rel = os.path.relpath(os.path.join(d, f), src_root)
                out[f] = module_of_path(os.path.join("graft", rel)
                                        if not rel.startswith("graft") else rel)
    return out


def attribute(job, files, enclosing):
    """Module of one job: the file of its SQL execution's call site, or of
    its first stage when the job ran outside SQL; the enclosing span's
    module when that file is the benchmark's own. None for the harness's
    own check queries, which run outside every graft span."""
    for text in (job.get("desc", ""), job.get("stage_name", "")):
        m = _CALLSITE.search(" " + text)
        if not m:
            continue
        f = m.group(1)
        if f in OWN_FILES:
            return enclosing if enclosing in MODULES else None
        if f in files:
            mod = files[f]
            return mod if mod in MODULES else "other"
        # a call site outside graft says nothing about the module: try the
        # stage's call site
    return "unattributed"


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def innermost(spans, t):
    """The innermost span containing instant `t`, or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def spark_layer(jobs, stages, spans, cores, n_ops):
    """Per-op Spark totals over traced ops: counts, driver gap (op wall not
    covered by any job), executor time, utilisation, shuffle, spill, skew."""
    by_stage = {s["id"]: s for s in stages}
    job_stages = [by_stage[i] for j in jobs for i in j["stages"]
                  if i in by_stage]
    wall_ms = sum(s["end"] - s["start"] for s in spans)
    gap_ms = wall_ms - sum(
        union_ms([(max(j["start"], s["start"]), min(j["end"], s["end"]))
                  for j in jobs if j["end"] >= s["start"]
                  and j["start"] <= s["end"]]) for s in spans)
    run_ms = sum(s["run_ms"] for s in job_stages)
    tasks = sum(s["tasks"] for s in job_stages)
    skew = [s["max_ms"] / max(s["median_ms"], 1) for s in job_stages
            if s["tasks"] >= 2]
    n = max(n_ops, 1)
    return {
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(job_stages) / n,
        "spark.tasks": tasks / n,
        "spark.tasks_per_stage": tasks / max(len(job_stages), 1),
        "spark.driver_gap_s": gap_ms / 1e3 / n,
        "spark.exec_run_s": run_ms / 1e3 / n,
        "spark.core_util": run_ms / max(wall_ms * cores, 1e-9),
        "spark.gc_s": sum(s["gc_ms"] for s in job_stages) / 1e3 / n,
        "spark.shuffle_write_mb":
            sum(s["shuffle_write"] for s in job_stages) / 1e6 / n,
        "spark.shuffle_read_mb":
            sum(s["shuffle_read"] for s in job_stages) / 1e6 / n,
        "spark.spill_mb": sum(s["spill"] for s in job_stages) / 1e6 / n,
        "spark.task_skew_max": max(skew) if skew else 1.0,
    }


def callsite_files(job):
    """Source files named by the job's SQL description and first stage."""
    return [m.group(1) for t in (job.get("desc", ""), job.get("stage_name", ""))
            for m in [_CALLSITE.search(" " + t)] if m]


def module_layer(jobs, spans, files, n_ops):
    """Jobs and job wall per module, per op, and the share of job wall
    that landed on a named module."""
    count = {m: 0 for m in MODULES}
    wall = {m: 0.0 for m in MODULES}
    named = total = 0.0
    for j in jobs:
        enc = innermost(spans, j["start"])
        mod = attribute(j, files, enc["module"] if enc else None)
        if mod is None:
            continue
        dt = max(j["end"] - j["start"], 0)
        total += dt
        if mod != "unattributed":
            named += dt
            count[mod] += 1
            wall[mod] += dt
    n = max(n_ops, 1)
    out = {}
    for m in MODULES:
        out["jobs." + m] = count[m] / n
        out["job_s." + m] = wall[m] / 1e3 / n
    out["trace.attributed_frac"] = named / total if total else 1.0
    return out


def steal_share(op):
    """The share of the time the machine's cores had work during `op` that
    the hypervisor gave to other machines."""
    return op["steal_s"] / (op["busy_s"] + op["steal_s"]) \
        if op["busy_s"] + op["steal_s"] > 0 else 0.0
