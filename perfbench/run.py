"""On-box benchmark of graph jobs: one workload per invocation.

    python3 perfbench/run.py --workload trade-analytics --seed 1 --seconds 5 --trace 0

Run from the repository root. Starts one ``local[nproc]`` Spark session,
sets up (session start, input generation, one untimed warm-up job),
computes the references, then runs passes of the workload's jobs back to
back (closed loop, one client) until ``--seconds`` have elapsed, at least
one pass. Every job's output is checked against an independent
reference outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
traced pass and prints the per-layer metrics. The last stdout line is
the result JSON; the full run record (host conditions, input digests,
per-job counters, spans) goes under ``.bench_work/runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

KERNEL_JOBS = ("wcc", "chain_bfs")
ALL_JOBS = ("wcc", "min_spanning_forest", "chain_bfs", "dedup_corpus")
END_TO_END = {"wall_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s") or "_s_" in leaf:
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_ratio"):
        return "ratio"
    if leaf.endswith("_pct"):
        return "%"
    if leaf == "bytes_written":
        return "bytes"
    return "count"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def in_group(ctx, reader, group, fn):
    """Run ``fn()`` under its own job group; returns (wall_s, result or
    None, error text, spark counters of the group). The cache is cleared
    afterwards, so the next job starts from its input files rather than
    from a relation an earlier job left persisted."""
    reader.set_group(group)
    t0 = time.monotonic()
    res, err = None, ""
    try:
        res = fn()
    except Exception:  # a job that raises counts as failed; the run goes on
        err = traceback.format_exc(limit=5)
    wall = time.monotonic() - t0
    reader.clear_group()
    counts = reader.read(group)
    ctx.spark.catalog.clearCache()
    return wall, res, err, counts


def run_pass(wl, ctx, reader, refs, label):
    from harness import RssSampler

    sampler = RssSampler().start()
    jobs = {}
    for job in wl.job_names:
        def call(job=job):
            with ctx.tracer.span(job):
                return wl.run(job, ctx)

        wall, out, err, sc = in_group(ctx, reader, f"{ctx.run_id}/{label}/{job}", call)
        ok, why = (False, err) if out is None else wl.check(job, out, refs[job])
        if not ok:
            log(f"{label} {job} FAILED: {why}")
        jobs[job] = {"wall_s": wall, "ok": ok, "why": why, "spark": sc, "out": out}
    peak = sampler.stop()
    return {
        "label": label,
        "wall_s": sum(j["wall_s"] for j in jobs.values()),
        "peak_rss_mb": peak,
        "jobs": jobs,
    }


def end_to_end(passes, setup_s):
    from harness import median

    return {
        "wall_s": median([p["wall_s"] for p in passes]),
        "setup_s": setup_s,
        "peak_rss_mb": median([p["peak_rss_mb"] for p in passes]),
    }


def per_layer(p, tracer, wl, cores):
    """Every per-layer metric of the traced pass ``p``; the metrics of
    jobs and layers this workload does not run read 0."""
    from harness import quantile, tail_percentile
    from workloads import pregel_facts

    jobs = p["jobs"]

    def out(job):
        j = jobs.get(job)
        return j["out"] if j else None

    m = {}
    for job in ALL_JOBS:
        j = jobs.get(job)
        sc = j["spark"] if j else {}
        m[f"{job}.wall_s"] = j["wall_s"] if j else 0
        m[f"{job}.jobs"] = sc.get("jobs", 0)
        m[f"{job}.tasks"] = sc.get("tasks", 0)
        m[f"{job}.executor_cpu_s"] = sc.get("executor_cpu_s", 0)
        m[f"{job}.shuffle_mb"] = sc.get("shuffle_write_mb", 0)
        m[f"{job}.driver_s"] = (j["wall_s"] - sc["executor_run_s"] / cores) if j else 0

    keys = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb")  # summed over jobs
    tot = {k: sum(j["spark"][k] for j in jobs.values()) for k in keys}
    for k, v in tot.items():
        m[f"spark.{k}"] = v
    wall = p["wall_s"]
    m["spark.busy_ratio"] = tot["executor_run_s"] / (wall * cores) if wall else 0
    m["spark.driver_s"] = wall - tot["executor_run_s"] / cores

    job_s = [t for j in jobs.values() for t in j["spark"]["job_s"]]
    pct, val = tail_percentile(job_s)
    m["spark.job_samples"] = len(job_s)
    m["spark.job_s_p50"] = quantile(job_s, 50)
    m["spark.job_tail_pct"] = pct or 0
    m["spark.job_s_tail"] = val or 0

    for job in KERNEL_JOBS:
        o = out(job)
        f = pregel_facts(o.pregel) if o is not None and o.pregel is not None else None
        steps = f["superstep_s"] if f else []
        n = f["supersteps"] if f else 0
        m[f"{job}.pregel.supersteps"] = n
        m[f"{job}.pregel.messages"] = f["messages"] if f else 0
        m[f"{job}.pregel.superstep_s_p50"] = quantile(steps, 50)
        m[f"{job}.pregel.superstep_s_p90"] = quantile(steps, 90)
        m[f"{job}.pregel.jobs_per_superstep"] = jobs[job]["spark"]["jobs"] / n if n else 0
        m[f"{job}.pregel.gear_changes"] = f["gear_changes"] if f else 0

    def layer(job, key):
        o = out(job)
        return o.layer.get(key, 0) if o is not None else 0

    m["prepare.symmetrize_s"] = tracer.seconds("traced.symmetrize")
    m["prepare.kept_ratio"] = layer("wcc", "prepare.kept_ratio")
    msf = out("min_spanning_forest")
    rounds = msf.counters.get("rounds", 0) if msf is not None else 0
    m["min_spanning_forest.rounds"] = rounds
    m["min_spanning_forest.jobs_per_round"] = (
        jobs["min_spanning_forest"]["spark"]["jobs"] / rounds if rounds else 0
    )
    m["fixtures.build_s"] = tracer.seconds("traced.fixtures_build")
    m["fixtures.edges"] = layer("wcc", "fixtures.edges")
    m["sources.read_s"] = tracer.seconds("read") + tracer.seconds("traced.read")
    m["sources.write_s"] = tracer.seconds("write")
    m["sources.bytes_written"] = sum(layer(j, "sources.bytes_written") for j in KERNEL_JOBS)
    dedup = out("dedup_corpus")
    m["dedup_corpus.rows_out"] = dedup.counters["rows"] if dedup is not None else 0
    m["dedup_corpus.kept_ratio"] = (
        m["dedup_corpus.rows_out"] / wl.dedup_rows_in() if dedup is not None else 0
    )
    # the traced pass differs from an untraced one only by these calls
    m["trace.overhead_s"] = sum(
        s["end"] - s["start"] for s in tracer.spans if s["name"].startswith("traced.")
    )
    return m


def check_counters(wl, seed, passes, work):
    """Work counters must repeat exactly: across the passes of this run
    and across runs of the same workload and seed in this checkout.
    Returns the differences found."""
    counters = [{j: v["out"].counters for j, v in p["jobs"].items() if v["out"]}
                for p in passes]
    diffs = [f"pass {i} counters {c} != pass 0 {counters[0]}"
             for i, c in enumerate(counters[1:], 1) if c != counters[0]]
    path = os.path.join(work, "counters", f"{wl.name}-{seed}.json")
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
        if prev != counters[0]:
            diffs.append(f"counters {counters[0]} != earlier run {prev}")
    elif len(counters[0]) == len(wl.job_names):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(counters[0], fh)
    return diffs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import giraph_spark  # noqa: F401  the program under test must be present

    import harness as H
    from reference import file_digest
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    run_id = uuid.uuid4().hex[:12]
    host = H.HostConditions()
    H.configure_process_env(ROOT, WORK)
    conf = H.session_conf(WORK)
    tracer = H.Tracer(run_id, enabled=False)

    t_setup = time.monotonic()
    spark = H.start_session(conf)
    try:
        session_s = time.monotonic() - t_setup
        ctx = Ctx(spark=spark, tracer=tracer, work=WORK, seed=args.seed, run_id=run_id)
        reader = H.JobGroupReader(spark)
        wl.prepare(ctx)
        _, _, err, _ = in_group(ctx, reader, f"{run_id}/warmup", lambda: wl.warm_up(ctx))
        if err:
            log(f"warm-up FAILED: {err}")
        setup_s = time.monotonic() - t_setup
        log(f"{wl.name}: session {session_s:.2f}s, setup {setup_s:.2f}s")

        inputs = {k: file_digest(p) for k, p in wl.inputs().items()}
        refs = wl.references(ctx)

        passes = []
        if args.trace:
            tracer.enabled = ctx.traced = True
            with tracer.span("run"):
                passes.append(run_pass(wl, ctx, reader, refs, "traced"))
        else:
            deadline = time.monotonic() + args.seconds
            while not passes or time.monotonic() < deadline:
                passes.append(run_pass(wl, ctx, reader, refs, f"p{len(passes)}"))
        cores = reader.cores
    finally:
        H.stop_session(spark)

    attempted = sum(len(p["jobs"]) for p in passes)
    failed = sum(1 for p in passes for j in p["jobs"].values() if not j["ok"])
    flags = check_counters(wl, args.seed, passes, WORK)
    for f in flags:
        log(f"FLAG work counters differ: {f}")

    if args.trace:
        values = per_layer(passes[0], tracer, wl, cores)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
    else:
        values = end_to_end(passes, setup_s)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "run_id": run_id,
        "host": host.finish(), "session_conf": conf, "session_s": session_s,
        "setup_s": setup_s, "inputs_sha256": inputs, "counter_flags": flags,
        "passes": [{
            "label": p["label"], "wall_s": p["wall_s"], "peak_rss_mb": p["peak_rss_mb"],
            "jobs": {j: {"wall_s": v["wall_s"], "ok": v["ok"], "why": v["why"],
                         "spark": v["spark"],
                         "counters": v["out"].counters if v["out"] else None}
                     for j, v in p["jobs"].items()},
        } for p in passes],
        "metrics": metrics,
    }
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{wl.name}-s{args.seed}-t{args.trace}-{run_id}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        tracer.write(stem + ".spans.json")
    log(f"record {stem}.json; host {record['host']}")

    print(json.dumps({
        "correct": failed == 0 and not flags,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
