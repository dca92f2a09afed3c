"""Sketch benchmark over the transcripts table.

    python3 sketchbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run from the repository root.  One invocation generates the workload's
input from ``--seed``, sets up a Spark session several times (reporting the
median set-up time), runs the timed operation until ``--seconds`` of
operation time have passed, checks every output, and prints one JSON object
as the last line of standard output.  With ``--trace 0`` its metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, taken from
the Spark event log, driver-side spans and a single-process replay (see
METRICS.md).  Run records, with the hypervisor steal fraction and boot id,
are appended to ``.sketchbench/runs.jsonl``; traced runs also write their
spans to ``.sketchbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
import traceback

import harness
from harness import Tracer, median

#: set-ups per run; setup_s reports the median
SETUPS = 3
#: operations of the untraced comparison in a traced run
OVERHEAD_ITERS = 3

END_TO_END = {
    "turns_per_s": "1/s",
    "setup_s": "s",
    "worker_rss_mb": "MB",
    "err_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"[sketchbench] {msg}", file=sys.stderr, flush=True)


def _timed_ops(wl, sess, tracer, seconds, prefix, sampler, stats):
    """Run the operation once untimed (first-run code generation and JIT),
    then at least ``wl.min_ops`` times and until ``seconds`` of operation
    time have passed.  Every output is checked.  Returns (wall times, rss
    peaks, last good output); counts into ``stats``."""
    times, peaks, last = [], [], None
    i = 0
    while len(times) < wl.min_ops or sum(times) < seconds:
        tracer.run_id = f"{prefix}-it{i}" if i else f"warm-{prefix}"
        sampler.take_peak()
        t0 = time.perf_counter()
        try:
            out = wl.op(sess.spark, tracer)
            fails = []
        except Exception:
            traceback.print_exc()
            out, fails = None, ["raised"]
        dt = time.perf_counter() - t0
        peak = sampler.take_peak()
        if out is not None:
            fails = wl.check(out)
        stats["attempted"] += 1
        if fails:
            stats["failed"] += 1
            stats["failures"].extend(fails)
            log(f"{prefix} op {i} failed: {fails}")
        else:
            last = out
        if i:
            times.append(dt)
            peaks.append(peak)
        log(f"{prefix} op {i}: {dt:.3f}s")
        i += 1
    return times, peaks, last


def run(args, work) -> tuple[dict, dict]:
    import workloads

    wl = workloads.WORKLOADS[args.workload](work / "data", args.seed)
    n_cores = harness.cores()
    sess = harness.Session(n_cores)
    tracer = Tracer(bool(args.trace))
    tracer.bind(sess)
    stats = {"attempted": 0, "failed": 0, "failures": []}
    rec: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                 "cores": n_cores, "boot_id": harness.boot_id()}
    try:
        # set-up 1: JVM + context, input generation, workers, program prep
        tracer.run_id = "setup-0"
        t0 = time.perf_counter()
        sess.start()
        ctx_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.generate(sess.spark)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        sess.warm_workers()
        wl.prepare(sess.spark, tracer)
        setups = [ctx_s + time.perf_counter() - t0]
        for r in range(1, SETUPS):
            tracer.run_id = f"setup-{r}"
            t0 = time.perf_counter()
            sess.restart()
            sess.warm_workers()
            wl.prepare(sess.spark, tracer)
            setups.append(time.perf_counter() - t0)
        rec.update(gen_s=gen_s, session_setups_s=setups, setup_s=gen_s + median(setups))
        log(f"set-up: generate {gen_s:.2f}s, sessions {[round(s, 2) for s in setups]}")

        t0 = time.perf_counter()
        wl.truth(sess.spark)
        wl.expect_partitions(sess.spark)
        t1 = time.perf_counter()
        tracer.run_id = "check"
        run_fails = wl.run_checks(sess.spark, tracer)
        rec["truth_s"] = t1 - t0
        rec["run_checks_s"] = time.perf_counter() - t1
        rec["turns"] = wl.turns

        sampler = harness.RssSampler().start()
        try:
            steal_a = harness.read_steal()
            prefix = "trace" if args.trace else "run"
            times, peaks, last = _timed_ops(wl, sess, tracer, args.seconds, prefix, sampler, stats)
            rec["steal_frac"] = harness.steal_frac(steal_a, harness.read_steal())
        finally:
            sampler.stop()
        if run_fails:
            stats["failures"].extend(run_fails)
            stats["failed"] = stats["attempted"]
        rec.update(op_s=times, worker_rss_peaks=peaks)
        end_to_end = {
            "turns_per_s": wl.turns / median(times),
            "setup_s": rec["setup_s"],
            "worker_rss_mb": median(peaks) / 2**20,
        }
        if last is not None:
            q = wl.quality(last)
            rec["quality"] = q
            end_to_end["err_ratio"] = q["err_ratio"]
        if args.trace:
            layers = traced_metrics(wl, sess, tracer, work, times, last, stats, rec)
        else:
            layers = None
    finally:
        t0 = time.perf_counter()
        sess.close()
        rec["close_s"] = time.perf_counter() - t0
    if args.trace:
        rec["spans"] = tracer.spans
        rec["span_self_s"] = tracer.self_times()
    rec.update(attempted=stats["attempted"], failed=stats["failed"],
               failures=stats["failures"][:20], end_to_end=end_to_end, per_layer=layers)
    return rec, (layers if args.trace else end_to_end)


def traced_metrics(wl, sess, tracer, work, traced_times, last, stats, rec) -> dict:
    """Per-layer metrics of a traced run: spans and event log of the traced
    operations, an untraced comparison for the tracing overhead, the
    single-core build (bulk_build) and the single-process replay."""
    import replay
    from workloads import BulkBuild

    n_traced = len(traced_times)
    # untraced comparison in a fresh context without the event log
    sess.set_event_log(False)
    sess.restart()
    sess.warm_workers()
    plain = Tracer(False)
    untraced = []
    for i in range(OVERHEAD_ITERS):
        t0 = time.perf_counter()
        out = wl.op(sess.spark, plain)
        untraced.append(time.perf_counter() - t0)
        stats["attempted"] += 1
        fails = wl.check(out)
        if fails:
            stats["failed"] += 1
            stats["failures"].extend(fails)
    rec["untraced_op_s"] = untraced
    ev = harness.parse_event_logs(work / "events", "trace-")
    rec["event_log_by_span"] = ev
    m: dict[str, float] = dict.fromkeys(harness.SPARK_METRICS, 0.0)
    for per_span in ev.values():
        for k, v in per_span.items():
            m[k] += v / n_traced
    m["trace.wall_ratio"] = median(traced_times) / median(untraced)

    unavailable = {}
    if isinstance(wl, BulkBuild):
        sess.restart(n_cores=1)
        sess.warm_workers()
        t0 = time.perf_counter()
        out = wl.op(sess.spark, plain)
        single = time.perf_counter() - t0
        stats["attempted"] += 1
        if wl.check(out):
            stats["failed"] += 1
            stats["failures"].append("single-core build differs")
        m["spark.scaling_eff_1to4"] = single / (sess.n_cores * median(untraced))
        rec["single_core_op_s"] = single
    else:
        m["spark.scaling_eff_1to4"] = 0.0
        unavailable["spark.scaling_eff_1to4"] = "measured on bulk_build only"

    span_names = {
        "agg.build_sketch_s": "agg.build_sketch",
        "probe.bloom_contains_s": "probe.bloom_contains",
        "probe.grouped_join_s": "probe.grouped_join",
        **{f"agg.build_sketch_grouped_s.{f}": f"agg.build_sketch_grouped.{f}"
           for f in ("hll", "cms", "kll", "bloom")},
    }
    for metric, span in span_names.items():
        d = tracer.durations(span)
        m[metric] = median(d) if d else 0.0
        if not d:
            unavailable[metric] = f"{wl.name} makes no {span} call"

    clock = replay.Clock()
    if last is None:
        unavailable["replay"] = "no operation produced a correct output to replay"
    else:
        t0 = time.perf_counter()
        replay_fails = wl.replay(sess.spark, clock, last)
        rec["replay_s"] = time.perf_counter() - t0
        if replay_fails:
            stats["failures"].extend(replay_fails)
            stats["failed"] = stats["attempted"]
    for name in ("hashkern.pack_s", "hashkern.route_s", "core.insert_s", "core.union_s",
                 "core.contains_s", "sketches.merge_s", "sketches.serde_s", "agg.compress_s",
                 *(f"sketches.update_s.{f}" for f in ("hll", "cms", "kll", "bloom"))):
        m[name] = clock.t.get(name, 0.0)
        if name not in clock.t:
            unavailable[name] = f"{wl.name} makes no such call"
    n = clock.n
    m["hashkern.pack_fill_ratio"] = n["pack.key_bytes"] / max(1, n["pack.matrix_bytes"])
    m["core.state_bytes"] = n["core.state_bytes"]
    m["agg.partials"] = n["agg.partials"]
    m["agg.partials_per_group"] = n["agg.partials"] / max(1, n["agg.groups"])
    m["agg.compress_ratio"] = n["agg.raw_bytes"] / max(1, n["agg.blob_bytes"])
    rec["unavailable"] = unavailable
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    harness.import_program()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = harness.prepare_env(bool(args.trace))
    try:
        rec, metrics = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = {**END_TO_END, **per_layer_units()}
    rec["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    if args.trace:
        trace = {k: rec.pop(k) for k in ("spans", "span_self_s", "event_log_by_span")}
        path = harness.WORK_ROOT / f"trace-{args.workload}-{args.seed}.json"
        path.write_text(json.dumps(trace, default=str, indent=1))
    with open(harness.WORK_ROOT / "runs.jsonl", "a") as fh:
        fh.write(json.dumps(rec, default=str) + "\n")
    for k, v in rec["metrics"].items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    for k, v in rec.get("quality", {}).items():
        log(f"quality {k} = {v:.6g}")
    log(f"failed_frac = {rec['failed'] / max(1, rec['attempted']):.6g} ({rec['failed']} of {rec['attempted']})")
    result = {
        "correct": rec["failed"] == 0 and "err_ratio" in rec["end_to_end"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": rec["metrics"],
    }
    print(json.dumps({"record": rec}, default=str))
    print(json.dumps(result))
    return 0


def per_layer_units() -> dict[str, str]:
    with open(harness.ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
