"""Seeded end-to-end benchmark of the entity-resolution pipeline on local Spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload planted_er --seed 1 --seconds 5 --trace 0

One run starts one Spark application (``local[nproc]``) and sets the
workload up: ``setup_s`` is the session start (JVM, SparkSession and
``ensure_shipped``), plus the median of several input generations and
loads, plus a cold warm-up pass over a small input and one over the full
input.  It then repeats full workload passes for ``--seconds`` (at least
three; one with ``--seconds 0``) and reports the median pass.  A traced run
gives half the time to untraced and half to traced passes.  Outputs are
checked against independent answers outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` additionally
turns on Spark's JSON event log, runs traced passes (one span and one Spark
job group per layer call, layer outputs materialized at span ends) and
prints the per-layer metrics.  The last stdout line is one short JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before
it carries the host fingerprint, input hashes and workload-specific
figures, and ``perfbench/results/`` receives the full detail, spans
included.  Scratch state lives under ``perfbench/.work/`` and is removed
at exit.  The exit code is 1 when an output check fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "pair_f1": "ratio",
    "peak_rss_mb": "MB",
}
# Printed on the line before the result and kept in the detail file, but not
# bounded: the shorter intervals they time spread by up to ~0.2 between runs
# on a 4-core host, too close to any bound the result line may carry.
WORKLOAD_METRICS = {
    "resolve_pages_per_s": "pages/s",
    "pairs_scored_per_s": "pairs/s",
    "batch_p50_s": "s",
    "batch_late_p50_s": "s",
    "failed_frac": "ratio",
}

LAYERS = (
    "session", "text", "blocking", "pairs", "components", "similarity",
    "encoder", "klsh", "evaluate", "continuous_er",
)
BASE_LAYER_METRICS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "exec_run_s": "s",
    "exec_cpu_s": "s", "offcpu_s": "s", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "rows_out": "count",
}
LAYER_EXTRAS = {
    "blocking": {"purged_keys": "count", "max_block": "count", "predicted_pair_rows": "count"},
    "pairs": {"pair_rows": "count", "edges": "count", "dup_ratio": "ratio", "keep_ratio": "ratio"},
    "components": {"components": "count", "largest": "count"},
    "similarity": {"pairs": "count"},
    "encoder": {"records": "count", "pairs": "count"},
    "klsh": {"fits": "count", "useful_ratio": "ratio", "max_component_rows": "count"},
    "evaluate": {"tp": "count", "fp": "count", "fn": "count"},
    "continuous_er": {"state_mb": "MB", "written_mb_per_input_mb": "ratio"},
}
TRACE_METRICS = {"trace.pass_s": "s", "trace.overhead_s": "s", "trace.layer_wall_sum_s": "s"}

# The traced run's last line: the per-layer figures an optimisation is most
# likely to move.  The detail file holds every metric of every layer.
PER_LAYER = [
    "session.wall_s", "text.wall_s", "text.offcpu_s",
    "blocking.wall_s", "blocking.max_block", "blocking.purged_keys",
    "blocking.predicted_pair_rows", "pairs.wall_s", "pairs.shuffle_write_mb",
    "pairs.edges", "pairs.keep_ratio", "components.wall_s", "components.jobs",
    "components.components", "similarity.wall_s", "similarity.offcpu_s",
    "similarity.pairs", "encoder.wall_s", "encoder.offcpu_s", "klsh.wall_s",
    "klsh.offcpu_s", "klsh.useful_ratio", "evaluate.wall_s",
    "trace.overhead_s", "trace.layer_wall_sum_s",
]

SETUPS = 3
# The JVM keeps compiling hot code for a few passes after the cold one; the
# full-size warm-up pass takes the timed passes past the steepest part.
WARM_PASSES = 1
# The median of one pass is no median: a run on a shared host always times
# several passes, even when they take longer than --seconds.
MIN_PASSES = 3


def all_layer_units() -> dict[str, str]:
    units = {}
    for layer in LAYERS:
        for m, u in {**BASE_LAYER_METRICS, **LAYER_EXTRAS.get(layer, {})}.items():
            units[f"{layer}.{m}"] = u
    return {**units, **TRACE_METRICS}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    return ap.parse_args(argv)


def fingerprint() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
    }


class Session:
    """One local Spark application at a time, its JVM owned by this run."""

    def __init__(self, work: str, trace: bool) -> None:
        self.work = work
        self.trace = trace
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")

    def start(self):
        from entity_resolution_spark.entrypoints import ensure_shipped
        from entity_resolution_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        confs = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}",
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]",
            shuffle_partitions=2 * cores, extra_confs=confs,
        )
        ensure_shipped(self.spark)
        return self.spark

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM behind it, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - a JVM that ignores stdin close
                proc.kill()
                proc.wait(timeout=30)


def run_passes(one_pass, seconds: float, min_passes: int = 1) -> list:
    """Closed loop: one pass after another for ``seconds``.

    At least ``min_passes`` run; after those, a pass starts only if a pass of
    the median length so far would end within ``seconds``, so a run does
    not overshoot its time by a whole pass.
    """
    from workloads import PassResult

    results = []
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        try:
            results.append(one_pass())
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            results.append(PassResult(wall_s=time.perf_counter() - t, error=traceback.format_exc()))
        typical = statistics.median(r.wall_s for r in results)
        if len(results) >= min_passes and time.perf_counter() - t0 + typical > seconds:
            return results


def layer_metrics(tracer, passes: list, wl_counts: dict, groups: dict, run_s: float,
                  session_s: float, input_mb: float | None) -> dict[str, float]:
    """Per-layer figures per traced pass: span wall time, event-log task
    metrics of the layer's job groups, rows out and layer-specific counts."""
    units = all_layer_units()
    n = max(1, len(passes))
    vals = {k: 0.0 for k in units}
    root = _roots(tracer.spans)
    pass_ids = sorted(s["id"] for s in tracer.spans if s["name"] == "pass")
    layer_walls: dict[str, list[float]] = {}
    for pid in pass_ids:
        per: dict[str, float] = {}
        for s in tracer.spans:
            if s["name"] in LAYERS and root[s["id"]] == pid:
                per[s["name"]] = per.get(s["name"], 0.0) + s["end"] - s["start"]
        for layer, w in per.items():
            layer_walls.setdefault(layer, []).append(w)
    for layer, ws in layer_walls.items():
        vals[f"{layer}.wall_s"] = statistics.median(ws)
    for s in tracer.spans:
        if s["name"] not in LAYERS:
            continue
        g = groups.get(tracer.group_of(s), {})
        for m in ("jobs", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_write_mb", "spill_mb"):
            vals[f"{s['name']}.{m}"] += g.get(m, 0.0) / n
        if s["name"] == "continuous_er":
            vals["continuous_er.written_mb_per_input_mb"] += g.get("output_mb", 0.0) / n
        if pass_ids and root[s["id"]] == pass_ids[-1]:
            vals[f"{s['name']}.rows_out"] += s.get("rows_out", 0)
    for layer in LAYERS:
        vals[f"{layer}.offcpu_s"] = max(0.0, vals[f"{layer}.exec_run_s"] - vals[f"{layer}.exec_cpu_s"])
    if input_mb:
        vals["continuous_er.written_mb_per_input_mb"] /= input_mb
    vals["session.wall_s"] = session_s
    vals.update(wl_counts)
    pass_s = statistics.median(p.wall_s for p in passes) if passes else 0.0
    vals["trace.pass_s"] = pass_s
    vals["trace.overhead_s"] = pass_s - run_s
    vals["trace.layer_wall_sum_s"] = sum(vals[f"{layer}.wall_s"] for layer in LAYERS if layer != "session")
    return vals


def _roots(spans: list[dict]) -> dict[int, int]:
    """Span id -> id of its outermost ancestor (parents precede children)."""
    root: dict[int, int] = {}
    for s in spans:
        root[s["id"]] = s["id"] if s["parent"] is None else root[s["parent"]]
    return root


def bench(args, work: str) -> dict:
    import workloads as W
    from spans import RssSampler, Tracer, job_group_metrics, spans_nest

    wl = W.WORKLOADS[args.workload](args.seed, args.scale)
    sess = Session(work, trace=bool(args.trace))
    try:
        # set-up: one cold session start, input generation and load repeated
        # SETUPS times (median), one cold warm-up pass over a small input and
        # WARM_PASSES over the full one
        t = time.perf_counter()
        spark = sess.start()
        session_s = time.perf_counter() - t
        load_s = []
        for _ in range(SETUPS):
            t = time.perf_counter()
            st = wl.setup(spark, work)
            load_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.run_pass(W.Ctx(spark), st, tag="warm")
        for _ in range(WARM_PASSES):
            wl.run_pass(W.Ctx(spark), st)
        warm_s = time.perf_counter() - t
        t = time.perf_counter()
        exp = wl.expect(spark, st)
        expect_s = time.perf_counter() - t
        # a traced run splits its time between untraced and traced passes
        seconds = args.seconds / 2 if args.trace else args.seconds
        with RssSampler(sess.jvm_pid()) as rss:
            passes = run_passes(lambda: wl.run_pass(W.Ctx(spark), st), seconds,
                                MIN_PASSES if args.seconds > 0 else 1)
        traced, counts = [], {}
        if args.trace:
            tracer = Tracer(spark.sparkContext, uuid.uuid4().hex[:8], time.perf_counter())
            ctxs = []

            def traced_pass():
                ctxs.append(W.Ctx(spark, tracer=tracer))
                with tracer.span("pass"):
                    return wl.run_pass(ctxs[-1], st)

            traced = run_passes(traced_pass, seconds)
            if not traced[-1].error:
                counts = wl.layer_counts(ctxs[-1], traced[-1], exp)
                # exact cardinality: the pair rows generated must equal
                # Σ n(n−1)/2 over the surviving blocks
                if counts.get("pairs.pair_rows") != counts.get("blocking.predicted_pair_rows"):
                    exp["errors"].append(
                        f"pairs.pair_rows {counts.get('pairs.pair_rows')} != "
                        f"blocking.predicted_pair_rows {counts.get('blocking.predicted_pair_rows')}"
                    )
    finally:
        sess.shutdown()

    inputs = wl.inputs(st)
    out = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "fingerprint": fingerprint(),
        "inputs": {k: {"rows": len(v), "sha256": W.gen.content_hash(v)} for k, v in inputs.items()},
        "setup": {"session_s": session_s, "load_s": load_s, "warm_s": warm_s},
        "expect_s": expect_s,
        "blocks": exp["blocks"],
        "expect_errors": exp["errors"],
    }
    failed = attempted = 0
    per_pass = []
    for group in (passes, traced):
        for r in group:
            errs = [r.error] if r.error else list(exp["errors"]) + wl.check(r, exp)
            attempted += r.ops
            failed += r.ops if errs else 0
            per_pass.append({
                "wall_s": r.wall_s, "timings": r.timings, "errors": errs,
                "metrics": wl.metrics(r, exp) if not r.error else {},
                "traced": group is traced,
            })
    good = [p for p in per_pass if not p["traced"] and p["metrics"]]
    e2e = {
        "setup_s": session_s + statistics.median(load_s) + warm_s,
        "run_s": statistics.median(p["wall_s"] for p in per_pass if not p["traced"]),
        "peak_rss_mb": rss.peak / 2**20,
    }
    for k in good[0]["metrics"] if good else ():
        e2e[k] = statistics.median(p["metrics"][k] for p in good)
    out.update(per_pass=per_pass, end_to_end=e2e, attempted=attempted, failed=failed)
    if args.trace:
        groups = job_group_metrics(sess.event_dir)
        out["spans"] = tracer.spans
        out["spans_nest"] = spans_nest(tracer.spans)
        out["layers"] = layer_metrics(
            tracer, traced, counts, groups, e2e["run_s"], session_s,
            exp.get("input_mb"),
        )
    return out


def result_line(detail: dict, trace: int) -> dict:
    if trace:
        values, units = detail["layers"], all_layer_units()
        names = PER_LAYER
    else:
        values, units = detail["end_to_end"], END_TO_END
        names = list(END_TO_END)
    metrics = {}
    for k in names:
        v = values.get(k)
        # a metric no successful pass produced is reported as null
        metrics[k] = {"value": v if isinstance(v, (int, float)) and math.isfinite(v) else None,
                      "unit": units[k]}
    correct = detail["failed"] == 0 and all(m["value"] is not None for m in metrics.values())
    return {
        "correct": correct,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": metrics,
    }


def info_line(detail: dict, path: str) -> dict:
    values = {**detail["end_to_end"], "failed_frac": detail["failed"] / max(1, detail["attempted"])}
    return {
        "workload": detail["workload"],
        "seed": detail["seed"],
        "host": detail["fingerprint"],
        "inputs": {k: v["sha256"][:16] for k, v in detail["inputs"].items()},
        "blocks": detail["blocks"],
        "metrics": {
            k: {"value": values[k], "unit": u} for k, u in WORKLOAD_METRICS.items() if k in values
        },
        "detail": os.path.relpath(path, ROOT),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "entity_resolution_spark")):
        print("perfbench: entity_resolution_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".work"))
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    try:
        detail = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = result_line(detail, args.trace)
    detail["result"] = line
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(
        HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for p in detail["per_pass"]:
        for e in p["errors"]:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps(info_line(detail, path), separators=(",", ":")))
    print(json.dumps(line, separators=(",", ":")), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
