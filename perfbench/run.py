"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process drives the package through
its public functions in a closed loop with one client: each operation
starts when the previous one has finished. Sequence of a run:

1. set-up: generate the seeded inputs, build the session
   (``session.build_session``, ``local[nproc]``), ship the package to the
   Python workers, run every operation once with its output check, then
   the workload's untimed warm-up passes;
2. timed passes: each pass runs every operation once, writing every
   output column of every row;
3. with ``--trace 1``, untraced and traced passes alternate instead,
   then the per-layer probes run;
4. tear-down: stop Spark and its processes, remove the run's scratch
   root.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
print every metric by name with its unit. ``--workload all`` runs every
workload in turn, each in its own process.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "kafka_s3_etl_spark"

# At least three timed passes, so that pass_s is a median of passes and
# not of one pass or the mean of two.
MIN_PASSES = 3
DRIVER_MEM = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "rows/s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers). Every 2 s it sums the proportional set
    size (PSS: shared pages split among the processes sharing them, so
    forked workers are not counted twice) over the live processes; the
    peak is the largest sum. A sample costs about 20 ms of CPU walking
    the JVM's page tables; every 2 s keeps that under 1% of one core."""

    def __init__(self, root_pid: int) -> None:
        self.root = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def descendants(self) -> set[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = set(), [self.root]
        while todo:
            pid = todo.pop()
            out.add(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(2.0):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
        return self.peak_kb / 1024.0


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    def __init__(self, workload, seed: int, seconds: int, traced: bool, scratch: str) -> None:
        from workloads import Ctx

        self.wl = workload
        self.seed = seed
        self.traced = traced
        self.passes = max(MIN_PASSES, round(seconds / workload.nominal_pass_s))
        self.scratch = scratch
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.rows: dict[str, int] = {}
        self.op_lat: list[list[float]] = []  # per timed pass, in operation order
        self.layer: dict[str, float] = {}
        self.setup_parts: dict[str, float] = {"imports_s": time.perf_counter() - T0}
        inputs = os.path.join(scratch, "inputs")
        self.ctx = Ctx(
            spark=None,
            data_dir=os.path.join(inputs, "tables"),
            csv_path=os.path.join(inputs, "products.csv"),
            json_path=os.path.join(inputs, "products.json"),
            out_dir=os.path.join(scratch, "out"),
        )
        self.spark = None

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        import datagen

        t = time.perf_counter()
        os.makedirs(self.ctx.out_dir)
        os.makedirs(os.path.dirname(self.ctx.csv_path))
        if self.wl.sf is not None:
            datagen.write_tables(self.ctx.data_dir, self.seed, self.wl.sf)
        if self.wl.csv_rows:
            datagen.write_products_csv(self.ctx.csv_path, self.seed, self.wl.csv_rows)
        if self.wl.json_records:
            datagen.write_products_json(self.ctx.json_path, self.seed, self.wl.json_records)
        self.setup_parts["inputs_s"] = time.perf_counter() - t

        from kafka_s3_etl_spark.session import build_session
        from kafka_s3_etl_spark.shiplib import ensure_workers_can_import

        tmp = os.environ["TMPDIR"]
        t = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.wl.name}",
            master=f"local[{_nproc()}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                # Initial heap = maximum heap: the resident size then does
                # not depend on when the collector decides to grow the heap.
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData",
            },
        )
        self.layer["session.build_s"] = self.setup_parts["session_s"] = time.perf_counter() - t
        t = time.perf_counter()
        ensure_workers_can_import(self.spark)
        self.layer["shiplib.ship_s"] = time.perf_counter() - t
        self.ctx.spark = self.spark
        if self.wl.sf is not None:
            import checks

            self.ctx.duck = checks.duckdb_views(self.ctx.data_dir)
        self.ops = self.wl.ops()

    def _fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{op}: {why}")

    def check_pass(self) -> None:
        """The first, cold pass: every operation once, output checked."""
        t = time.perf_counter()
        for op in self.ops:
            self.attempted += 1
            t_op = time.perf_counter()
            try:
                rows, err = op.check(self.ctx)
            except Exception:  # noqa: BLE001 - a failing operation is a result
                self._fail(op.name, traceback.format_exc(limit=3).strip().splitlines()[-1])
                continue
            if err:
                self._fail(op.name, err)
            else:
                self.rows[op.name] = rows
            self.setup_parts[f"check.{op.name}_s"] = time.perf_counter() - t_op
        self.setup_parts["check_pass_s"] = time.perf_counter() - t

    # ------------------------------------------------------------- passes
    def timed_pass(self, tag: str, tracer=None) -> tuple[float, list[float]]:
        sc = self.spark.sparkContext
        self.ctx.tracer = tracer
        lat: list[float] = []
        ok: dict[str, bool] = {}
        t_pass = time.perf_counter()
        for op in self.ops:
            if tracer is not None:
                tracer.op = f"{tag}:{op.name}"
                sc.setJobGroup(tracer.op, op.name)
            t = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.span("op"):
                        op.run(self.ctx)
                else:
                    op.run(self.ctx)
                ok[op.name] = True
            except Exception:  # noqa: BLE001
                ok[op.name] = False
                self._fail(op.name, traceback.format_exc(limit=3).strip().splitlines()[-1])
            lat.append(time.perf_counter() - t)
        pass_s = time.perf_counter() - t_pass
        self.ctx.tracer = None
        for op in self.ops:  # outside the timed region
            self.attempted += 1
            if ok[op.name] and op.verify is not None:
                err = op.verify(self.ctx)
                if err:
                    self._fail(op.name, err)
        return pass_s, lat

    def rows_per_pass(self) -> int:
        return sum(self.rows.values())

    # ---------------------------------------------------------- tear-down
    def leftovers(self) -> tuple[int, int]:
        """Scratch directories the package left in TMPDIR and temporary
        views (memory sinks) left in the session."""
        tmp = os.environ["TMPDIR"]
        dirs = sum(
            1
            for d in os.listdir(tmp)
            if d.startswith(f"{PACKAGE}_") and os.path.isdir(os.path.join(tmp, d))
        )
        views = sum(1 for t in self.spark.catalog.listTables() if t.isTemporary)
        return dirs, views

    def shutdown(self) -> None:
        if self.ctx.duck is not None:
            self.ctx.duck.close()
            self.ctx.duck = None
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def _start_time(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


def _wait_gone(procs: dict[int, str], timeout_s: float = 30.0) -> None:
    """Wait until each ``pid -> start time`` process has exited; kill any
    still running at the deadline (the start time guards against a
    reused pid)."""
    deadline = time.time() + timeout_s
    alive = dict(procs)
    while alive and time.time() < deadline:
        alive = {p: t for p, t in alive.items() if _start_time(p) == t}
        if alive:
            time.sleep(0.1)
    for p, t in alive.items():
        if _start_time(p) == t:
            os.kill(p, 9)


def _remove_stale_scratch(parent: str) -> None:
    """Remove the scratch roots of killed runs: those whose pid (the last
    part of the name) no longer exists."""
    if not os.path.isdir(parent):
        return
    for d in os.listdir(parent):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def measure(run: Run) -> dict:
    """Set-up (ending with the checked pass and the warm-up passes), then
    the timed passes (traced run: untraced and traced passes
    alternating); returns the raw samples."""
    run.setup()
    run.check_pass()
    for k in range(run.wl.warmup_passes):
        run.setup_parts[f"warmup{k}_s"] = run.timed_pass(f"w{k}")[0]
    setup_s = time.perf_counter() - T0
    if run.traced:
        import layers

        return {"setup_s": setup_s, "layer": layers.traced(run)}
    passes, lat = [], []
    for k in range(run.passes):
        p, op_lat = run.timed_pass(f"u{k}")
        passes.append(p)
        lat.extend(op_lat)
        run.op_lat.append(op_lat)
    return {"setup_s": setup_s, "passes": passes, "latencies": lat}


def summarize(run: Run, raw: dict, peak_rss_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics and the notes printed beside them."""
    from stats import error_rate, median, tail

    passes, lat = raw["passes"], raw["latencies"]
    pass_s = median(passes)
    tail_v, tail_pct, n = tail(lat)
    err = error_rate(run.attempted, run.failed)
    e2e = {
        "setup_s": raw["setup_s"],
        "pass_s": pass_s,
        "op_p50_s": median(lat),
        "op_tail_s": tail_v,
        "rows_per_s": run.rows_per_pass() / pass_s,
        "success_rate": 1.0 - err,
        "peak_rss_mb": peak_rss_mb,
    }
    notes = {
        "pass_s": "passes=" + ",".join(f"{p:.3f}" for p in passes),
        "op_p50_s": f"n={len(lat)}",
        "op_tail_s": f"p{tail_pct:.1f} n={n}",
        "rows_per_s": f"rows/pass={run.rows_per_pass()}",
        "success_rate": f"error_rate={err:.4f} ({run.failed}/{run.attempted})",
    }
    return e2e, notes


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found; run from the repository root", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    _remove_stale_scratch(os.path.join(HERE, ".scratch"))
    scratch = os.path.join(HERE, ".scratch", f"{wl.name}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cpus = str(_nproc())
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    rss = PeakRss(os.getpid())
    rss.start()
    run = Run(wl, args.seed, args.seconds, bool(args.trace), scratch)
    try:
        raw = measure(run)
    finally:
        children = {p: _start_time(p) for p in rss.descendants() - {os.getpid()}}
        try:
            run.shutdown()
        finally:
            peak_rss_mb = rss.stop()
            _wait_gone(children)
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(scratch))  # only if no other run uses it
            except OSError:
                pass

    for e in run.errors:
        print(f"FAILED {e}")
    print(f"{wl.name:14s} set-up parts: " + ", ".join(f"{k}={v:.2f}" for k, v in run.setup_parts.items()))
    for i, op in enumerate(run.ops if run.op_lat else []):
        print(f"{wl.name:14s} op {op.name}: " + " ".join(f"{p[i]:.3f}" for p in run.op_lat))
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in raw["layer"].items()}
        for k, m in metrics.items():
            print(f"{wl.name:14s} {k:44s} {m['value']:.6g} {m['unit']}")
    else:
        e2e, notes = summarize(run, raw, peak_rss_mb)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        for k, m in metrics.items():
            print(f"{wl.name:14s} {k:12s} {m['value']:.6g} {m['unit']}  {notes.get(k, '')}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Every workload in turn, one process each; prints their lines and a
    combined result whose metric names are prefixed by the workload."""
    from workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited {p.returncode}", file=sys.stderr)
            return p.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, m in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = m
    print(json.dumps(combined))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
