"""Lake benchmark: ER7 ingest-to-lookup and cold/warm analytics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One process drives the
package's public functions on ``local[<cores>]``, where ``<cores>`` is
the number of cores this process may run on (``SPARK_GRAFT_CPUS`` is
set to it). The ER7 wire is generated from ``--seed`` into
``.perfbench/`` under the checkout; the analytics tables are the
fixture kept in ``perfbench/fixture/``. Nothing is read or written
outside the checkout. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics when ``--trace 0`` and the per-layer metrics when
``--trace 1``. The line before it is the full run record. Any failed
check makes the exit code 1; a checkout without the package gives 2.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import sys
import time
from contextlib import contextmanager

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402  (imports only lakegen/checks/tracing: no pyspark)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """Name -> unit of the end-to-end and the per-layer metrics, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]}
                 for k in ("end_to_end", "per_layer"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """SHA-256 over the package's source files: identifies the code
    under test even where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "hcls_data_lake_spark")
    for d, subdirs, files in os.walk(pkg):
        subdirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as fh:
            return fh.read().strip()
    return None


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    """One benchmark process: environment, session, tracer, budget."""

    def __init__(self, args):
        import numpy as np

        from tracing import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.corrupt_staged_row = args.corrupt_staged_row
        self.run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
        self.base = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(self.base, "work", self.run_id)
        os.makedirs(self.work)
        self.rng = np.random.default_rng([args.seed, 0x100C])
        self.tracer = Tracer(self.trace, self.run_id)
        self.stream = None
        self.spark = None
        self.gen_s = 0.0
        self.setup_s = None
        self.record: dict = {}

    def environment(self) -> None:
        """Point every temporary and scratch path into the work dir and
        pin the core count, before pyspark is imported."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["HCLS_SCRATCH_DIR"] = os.path.join(self.work, "scratch")
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        import tempfile

        tempfile.tempdir = tmp

    def setup(self, warm_up) -> None:
        """Set-up time: JVM and session start, then the workload's
        untimed warm-up. Also records the session's posture before and
        after (the warm-up makes the first registry query, if any)."""
        from hcls_data_lake_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - t0
        before = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        warm_up()
        self.setup_s = time.perf_counter() - t0
        self.record["setup"] = {
            "session_s": t_session,
            "warm_up_s": self.setup_s - t_session,
        }
        self.record["session"] = {
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
            "shuffle_partitions_before": before,
            "shuffle_partitions_after": int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            ),
        }

    @contextmanager
    def timed(self):
        """The measured phase: a root span, the Spark probe and the
        streaming listener (both only when tracing)."""
        if self.trace:
            from tracing import StreamProgress

            self.stream = StreamProgress()
            self.spark.streams.addListener(self.stream.listener)
            self.tracer.attach(self.spark)
        t0 = time.perf_counter()
        with self.tracer.span("timed"):
            yield
        self.record["timed_s"] = time.perf_counter() - t0

    def repeats(self, nominal_s: float) -> int:
        """Units of work for this run: one per ``nominal_s`` of
        ``--seconds`` started, at least one."""
        return max(1, math.ceil(self.seconds / nominal_s))

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None


def layer_metrics(run, res, declared: dict[str, str]) -> dict[str, float]:
    """Every declared per-layer metric; a layer the workload does not
    exercise reads 0."""
    tr = run.tracer
    out = dict.fromkeys(declared, 0.0)
    for k, v in run.record["session"].items():
        out[f"session.{k}"] = float(v)
    out.update(res.layers)
    eng = tr.totals("")
    for k in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "driver_residual_s"):
        out[f"spark.{k}"] = eng.get(k, 0.0)
    selfs = tr.self_times()
    for key in declared:
        if key.startswith("self."):
            out[key] = selfs.get(key[len("self."):-len("_s")], 0.0)
    root = next(s for s in tr.spans if s.name == "timed")
    out["trace.overhead_s"] = selfs.get("trace", 0.0)
    out["trace.untimed_share"] = selfs["timed"] / (root.end - root.start)
    require_declared(out, declared)
    return out


def require_declared(metrics: dict, declared: dict[str, str]) -> None:
    unknown = set(metrics) - set(declared)
    if unknown:
        raise KeyError(f"undeclared metrics: {sorted(unknown)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt-staged-row", action="store_true",
        help="self-test: delete one staged row before the final checks",
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hcls_data_lake_spark", "session.py")):
        print("perfbench: no hcls_data_lake_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    end_to_end, per_layer = declared_metrics()
    run = Run(args)
    run.environment()
    t_start = time.perf_counter()
    try:
        res = workloads.WORKLOADS[args.workload](run)
        rss = run.peak_rss_mb()
        layers = layer_metrics(run, res, per_layer) if run.trace else {}
    except BaseException:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
        raise
    t_stop = time.perf_counter()
    run.stop()
    run.record["stop_s"] = time.perf_counter() - t_stop
    if run.trace:
        spans_path = os.path.join(run.base, "records", f"{run.run_id}.spans.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        run.tracer.dump(spans_path)

    e2e = {"setup_s": run.setup_s, **res.end_to_end}
    require_declared(e2e, end_to_end)
    if run.trace:
        layers["mem.peak_rss_mb"] = rss
    failed = len(res.failures)
    record = {
        "run_id": run.run_id,
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": int(run.trace),
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": int(os.environ["SPARK_GRAFT_CPUS"]),
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "gen_s": run.gen_s,
        "peak_rss_mb": rss,
        "wall_s": time.perf_counter() - T_PROCESS,
        "imports_s": t_start - T_PROCESS,
        **run.record,
        **res.record,
        "end_to_end": e2e,
        "attempted": res.attempted,
        "failed": failed,
        "failures": res.failures[:20],
    }
    os.makedirs(os.path.join(run.base, "records"), exist_ok=True)
    with open(os.path.join(run.base, "records", f"{run.run_id}.json"), "w") as fh:
        json.dump(record, fh, default=str)
    shutil.rmtree(run.work, ignore_errors=True)

    chosen = layers if run.trace else e2e
    units = per_layer if run.trace else end_to_end
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": res.attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(chosen[k]), "unit": units[k]} for k in units
                },
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
