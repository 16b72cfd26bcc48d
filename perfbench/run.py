"""Seeded extraction benchmark for onnxtr_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see design.json):

- ``backfill_straight``: the production batch job
  (``lineage.run_checkpointed``, default config) over a seeded corpus.
- ``incremental_landing``: closed loop, one client; small heavy-tailed doc
  batches land as parquet files and each is drained by
  ``streaming.extract_stream.stream_extract_available_now``.

Every run checks every output span against the generator's expected spans.
With ``--trace 0`` the last stdout line is a JSON object holding the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of a
separate traced pass (event log on, spans around each layer call, kernel
replay checked against the fused stage). All scratch files go under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill_straight", "incremental_landing")


def _prepare_env(work: str) -> None:
    """Deployment shape, set before the JVM starts: Spark sized to the
    usable CPUs, the repo importable by Python workers, and every scratch
    file (Spark local dirs, JVM and Python temp) under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}") if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import onnxtr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "design.json")) as f:
        design = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    import workloads
    from check import Gate
    from tracer import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    gate = Gate()
    run = workloads.Run(args, work, tracer, gate)
    try:
        if args.workload == "backfill_straight":
            workloads.backfill(run)
        else:
            workloads.incremental(run)
    finally:
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm()

    for line in run.notes + gate.report():
        print(line)
    for name, (value, unit) in run.metrics.items():
        print(f"{name} {value:.6f} {unit}")
    correct = gate.correct
    if args.trace:
        if not run.replay_ok:
            print("trace VOID: the kernel replay's words differ from the fused stage's")
            correct = False
        tracer.write(os.path.join(work, "spans.jsonl"))
        units = {m["name"]: m["unit"] for m in design_metrics(ROOT)["per_layer"]}
        for k, v in sorted(run.layers.items()):
            print(f"  layer {k} {v:.6g} {units.get(k, 's' if k.endswith('_s') else '')}")
        for layer in sorted({k.split(".")[0] for k in run.layers}):
            print(f"  {layer} -> {design['layer_map'][layer]}")
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(os.path.join(work, 'spans.jsonl'), ROOT)}")
        metrics = {k: {"value": float(run.layers[k]), "unit": u} for k, u in units.items()}
    else:
        units = {m["name"]: m["unit"] for m in design_metrics(ROOT)["end_to_end"]}
        metrics = {k: {"value": float(run.metrics[k][0]), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": correct, "attempted": gate.attempted, "failed": gate.failed, "metrics": metrics}))
    return 0


def _stop_jvm() -> None:
    """End the Spark JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def design_metrics(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
