"""setu_spark benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload curate_crawl --seed 1 --seconds 5 --trace 0

Workloads (closed loop, one client, ``local[nproc]``):

* ``curate_crawl`` - HTML crawl NDJSON shards through the ``setu_spark.run``
  stage chain (extract, clean, analyse, lid, flag_filter, dedup, govern),
  each stage writing parquet; duplicate-sparse.
* ``dedup_dense`` - the near-dup funnel (MinHash, LSH, estimate, edit
  verify, connected components), semantic dedup, exact and ANN batch
  admission, the streaming admission twin and three registered queries
  on a duplicate-dense corpus.

A run generates its inputs from ``--seed`` (cached per seed under
``.perfbench_work/``), sets up a cold session (``setup_s``: imports, JVM,
session, first job), runs one cold pass of the workload (``wall_s``), as a
command-line job would, checks its outputs after the session has stopped
and prints one JSON line. A pass takes longer than any ``--seconds`` the
benchmark is configured with, so ``--seconds`` is accepted for the
interface and a run always measures exactly one pass.

``--trace 1`` first runs the same workload and seed untraced in a child
process, then turns on the Spark event log, tags each call with its
layer and prints the per-layer metrics, with the tracing overhead as the
traced pass wall against the child's. The launcher pins
``SPARK_GRAFT_CPUS``, the driver heap, ``PYTHONPATH`` and the
local/temporary directories before the JVM starts.
"""

from __future__ import annotations

import argparse
import atexit
import glob
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: end-to-end metric -> unit, as BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}


def pin_environment(work: str) -> int:
    """Environment the program under test runs in; returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g" if phys_gb > 4 else "512m"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return nproc


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers it forks), sampled from /proc."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 1e6


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid in ``pids`` has exited (the Python workers
    outlive the JVM by a moment); kill what is left after ``timeout``."""
    deadline = time.time() + timeout
    while True:
        alive = []
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            if os.path.exists(f"/proc/{pid}"):
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
        if not alive:
            return
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "setu_spark", "__init__.py")):
        print(f"perfbench: setu_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from gen import ensure_inputs
    from layers import Spans, layer_metrics, per_layer_names
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    # outputs, Spark scratch and event log go, on success or failure
    atexit.register(shutil.rmtree, run_dir, True)
    nproc = pin_environment(run_dir)
    inp, truth = ensure_inputs(
        os.path.join(WORK, "inputs"), args.workload, args.seed, args.size
    )

    spans = Spans(trace=bool(args.trace))
    ctx = Ctx(spark=None, inp=inp, out=os.path.join(run_dir, "out"),
              truth=truth, spans=spans)
    reference = _untraced_wall(args) if args.trace else None
    failed = 0
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if args.trace:
            evdir = os.path.join(run_dir, "eventlog")
            os.makedirs(evdir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with spans.span("session", "setup"):
            from setu_spark.session import get_spark

            spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            spans.spark = ctx.spark = spark
            spark.range(1).count()
        setup_s = time.perf_counter() - t0

        tp = time.perf_counter()
        result = wl["run_pass"](ctx)
        wall_s = time.perf_counter() - tp
    finally:
        peak_rss_mb = rss.stop()
        started = descendants(os.getpid())
        if spark is not None:
            stop_spark(spark)
        wait_gone(started)

    # operations: the calls into the program (one per span, set-up
    # included) and the output checks
    checks = wl["check"](ctx, result)
    attempted = len(spans.records) + len(checks)
    if args.trace:
        attempted += 1
        if reference is None:
            failed += 1
            print("perfbench: untraced reference run failed", file=sys.stderr)
    for name, ok, detail in checks:
        if not ok:
            failed += 1
            print(f"perfbench: check {name} failed: {detail}", file=sys.stderr)
    for s in spans.records:
        print(f"perfbench: {s['layer']:<22} {s['op']:<32} {s['wall_s']:8.3f}s",
              file=sys.stderr)
    print(f"perfbench: setup {setup_s:.3f}s, pass {wall_s:.3f}s",
          file=sys.stderr)

    if args.trace:
        logs = glob.glob(os.path.join(run_dir, "eventlog", "*"))
        metrics = layer_metrics(
            logs[0], spans.records, nproc, wl["input_bytes"](truth)
        )
        metrics.update(wl["ratios"](ctx, result))
        metrics["trace.wall_s"] = wall_s
        metrics["trace.overhead_frac"] = (
            wall_s / reference - 1 if reference else 0.0
        )
        units = per_layer_names()
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "docs_per_s": wl["docs"](truth) / wall_s,
            "peak_rss_mb": peak_rss_mb,
            "ok_frac": (attempted - failed) / max(1, attempted),
        }
        out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


def _untraced_wall(args) -> float | None:
    """Pass wall of the same workload, seed and size run untraced in a
    child process (its own cold session), or None if that run failed."""
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0",
           "--size", args.size]
    p = subprocess.run(cmd, capture_output=True, text=True)
    try:
        r = json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return None
    if p.returncode != 0 or not r["correct"]:
        return None
    return r["metrics"]["wall_s"]["value"]


if __name__ == "__main__":
    sys.exit(main())
