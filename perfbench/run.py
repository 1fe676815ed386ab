"""The benchmark: one closed-loop client on ``local[<cores>]``.

    python3 perfbench/run.py --workload job_fixture --seed 1 --seconds 10 --trace 0

Workloads (``--workload``): ``job_fixture``, ``job_global``,
``gate_sf01`` and ``lake_commits``; ``all`` runs each in its own process
and prints every end-to-end metric per workload. The seed makes the
inputs; the program receives only those inputs. Every op's output is
checked, and an op that raises or fails its check counts as failed and
gives no latency sample.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones in ``BENCHMARK.json``; with
``--trace 1`` the run alternates traced and untraced cycles and the
metrics are the per-layer ones. The line before it reports every
end-to-end metric of the workload, failures by exception class
included. ``gate_sf01`` reads an existing fixture directory given by
``--sf-dir`` or ``$SPARK_GRAFT_SF_DIR``. Everything the run writes goes
under ``.perfbench/`` in the working directory and is removed at exit,
except the span file of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("job_fixture", "job_global", "gate_sf01", "lake_commits")
#: Driver heap. The machine is shared, and a fixed heap keeps the JVM's
#: memory from varying with how far the collector let it grow.
DRIVER_MEMORY = "3g"


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def error_label(e: BaseException) -> str:
    """Exception class plus Spark's error condition, e.g.
    ``ArithmeticException:CAST_OVERFLOW``."""
    get = getattr(e, "getCondition", None)  # PySpark's errors carry one
    cond = get() if get is not None else None
    return f"{type(e).__name__}:{cond}" if cond else type(e).__name__


class Recorder:
    """Counts attempted and failed ops and keeps the wall and CPU samples
    of timed ops that succeeded and passed their check; warm-up ops count
    only when they fail. In a traced cycle it also keeps the per-layer
    rows: one summed over the cycle's ops for the additive metrics, and
    one per op for what the workload adds."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.timed = False
        self.attempted = 0
        self.failures: Counter[str] = Counter()
        self.first_errors: dict[str, str] = {}
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.traced_samples: dict[str, list[float]] = defaultdict(list)
        self.layer_rows: list[dict[str, float]] = []
        self._walls: list[float] | None = None
        self._cpus: list[float] = []
        self._rows: list[dict[str, float]] = []
        self._cycle_ok = True

    def _fail(self, label: str, detail: str) -> None:
        self.attempted += not self.timed  # a failed warm-up op counts too
        self.failures[label] += 1
        self.first_errors.setdefault(label, detail)
        self._cycle_ok = False

    def op(self, kind: str, fn, check=None):
        """Run one op. Returns (ok, output, row): ``row`` is a dict the
        workload may add per-layer metrics to, or None when untraced.
        ``check`` gets the output and returns a list of problems."""
        from spans import op_row

        self.attempted += self.timed
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind) as root:
                out = fn()
        except Exception as e:
            self._fail(error_label(e), "".join(traceback.format_exception_only(e)).strip()[:2000])
            return False, None, None
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        problems = check(out) if check is not None else []
        if problems:
            self._fail(f"check:{kind}", "; ".join(problems)[:2000])
            return False, out, None
        if self._walls is not None:
            self._walls.append(wall)
            self._cpus.append(cpu)
        if self.timed:
            (self.traced_samples if root is not None else self.samples)[kind].append(wall)
        if root is None:
            return True, out, None
        self._rows.append(op_row(self.tracer, root))
        row: dict[str, float] = {}
        self.layer_rows.append(row)
        return True, out, row

    def cycle(self, body) -> None:
        """Run ``body()`` as one cycle; its wall and CPU time are the sums
        of its ops'."""
        self._walls, self._cpus, self._rows, self._cycle_ok = [], [], [], True
        try:
            body()
        finally:
            walls, cpus, rows, ok = self._walls, self._cpus, self._rows, self._cycle_ok
            self._walls, self._rows = None, []
        if not (self.timed and ok and walls):
            return
        traced = self.tracer.enabled
        (self.traced_samples if traced else self.samples)["cycle"].append(sum(walls))
        (self.traced_samples if traced else self.samples)["cycle_cpu"].append(sum(cpus))
        if traced and rows:
            total = {k: sum(r[k] for r in rows) for k in rows[0]}
            wall = total.pop("wall_s")
            total["trace.uncovered_frac"] = total["self_s.bench"] / wall if wall > 0 else 0.0
            self.layer_rows.append(total)


def median(xs):
    return statistics.median(xs) if xs else None


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), reaped children included."""
    me = os.getpid()
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its JVM child."""
    def hwm_kb(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    total = hwm_kb("self")
    me = str(os.getpid())
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if fields[1] == me and comm == "java":
            total += hwm_kb(pid)
    return total / 1024.0


def configure_env(scratch: str) -> None:
    """Keep Spark, the JVM and Python temp files inside ``scratch``, make
    the program importable by Python workers, size local mode to the
    cores this process may use, and fix the driver heap."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    tmp = os.path.join(scratch, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the JVM that builds the submit command
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.enabled=false",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
        f'--driver-java-options "{java_opts}"',
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits when its stdin closes
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def make_workload(name, ctx):
    if name in ("job_fixture", "job_global"):
        from jobload import JobWorkload

        return JobWorkload(ctx, global_grid=name == "job_global")
    if name == "lake_commits":
        from lakeload import LakeWorkload

        return LakeWorkload(ctx)
    from gateload import GateWorkload

    return GateWorkload(ctx)


class Context:
    def __init__(self, spark, seed, scratch, tracer, sf_dir):
        self.spark, self.seed, self.scratch, self.tracer, self.sf_dir = spark, seed, scratch, tracer, sf_dir

    def mkdtemp(self, prefix: str) -> str:
        import tempfile

        return tempfile.mkdtemp(prefix=prefix, dir=self.scratch)


def declared_metrics(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def run_one(args) -> int:
    t_start = process_start()
    sys.path.insert(0, ROOT)
    try:
        import w4h_etl_container_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        print("perfbench: BENCHMARK.json is missing", file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench")
    scratch = os.path.join(base, f"{args.workload}-{os.getpid()}")
    configure_env(scratch)

    from spans import Tracer, check_spans, install, targets

    from w4h_etl_container_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark)
        if args.trace:
            install(tracer, targets())
            tracer.start_listener()
        rec = Recorder(tracer)
        ctx = Context(spark, args.seed, scratch, tracer, args.sf_dir)
        wl = make_workload(args.workload, ctx)
        wl.setup(rec)
        setup_s = time.time() - t_start

        rec.timed = True
        t_run = time.perf_counter()
        n = 0
        while True:
            # A traced run alternates untraced and traced cycles, starting
            # untraced, and runs at least two untraced and one traced, so
            # the warm-up trend cancels out of the overhead estimate.
            short = args.trace and not (
                len(rec.samples.get("cycle", [])) >= 2 and rec.traced_samples.get("cycle")
            )
            if time.perf_counter() - t_run >= args.seconds and not (short and n < 6):
                break
            tracer.enabled = bool(args.trace) and n % 2 == 1
            rec.cycle(lambda: wl.cycle(rec))
            tracer.enabled = False
            n += 1

        failed = sum(rec.failures.values())
        report = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss_mb(), "MB"),
            "failed_frac": (failed / max(rec.attempted, 1), "ratio"),
        }
        if not args.trace and rec.samples.get("cycle"):
            report["cycle_s"] = (median(rec.samples["cycle"]), "s")
            report["cycle_cpu_s"] = (median(rec.samples["cycle_cpu"]), "s")
        report.update({k: v for k, v in wl.report(rec).items() if v[0] is not None})
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cycle_walls": rec.samples.get("cycle", []), "session_s": session_s,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
            "failures": dict(rec.failures), "first_errors": rec.first_errors,
        }))
        for label, detail in rec.first_errors.items():
            print(f"perfbench: {label}: {detail}", file=sys.stderr)

        if args.trace:
            spans = tracer.to_json()
            problems = check_spans(spans)
            os.makedirs(base, exist_ok=True)
            out_path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
            with open(out_path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "spans": spans,
                           "layer_rows": rec.layer_rows, "problems": problems}, f)
            if problems:
                raise RuntimeError(f"traced run produced malformed spans: {problems[:3]}")
            traced = median(rec.traced_samples.get("cycle", []))
            untraced = median(rec.samples.get("cycle", []))
            values = {"session.start_s": session_s}
            if traced and untraced:
                values["trace.overhead_frac"] = traced / untraced - 1.0
            for name in {k for row in rec.layer_rows for k in row}:
                values[name] = median([row[name] for row in rec.layer_rows if name in row])
            metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in declared_metrics("per_layer")}
        else:
            metrics = {
                n: {"value": report[n][0], "unit": u} for n, u in declared_metrics("end_to_end") if n in report
            }
        print(json.dumps({
            "correct": failed == 0,
            "attempted": rec.attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)


def run_all(args) -> int:
    """Every workload in its own process; a table of their end-to-end
    metrics."""
    rows = {}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        if args.sf_dir:
            cmd += ["--sf-dir", args.sf_dir]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or len(lines) < 2:
            print(f"{w}: exited {p.returncode}", flush=True)
            continue
        rows[w] = json.loads(lines[-2])
        print(f"{w}:", flush=True)
        for name, m in rows[w]["end_to_end"].items():
            print(f"  {name:<24} {m['value']:>14.4f} {m['unit']}", flush=True)
        if rows[w]["failures"]:
            print(f"  failures: {rows[w]['failures']}", flush=True)
    return 0 if len(rows) == len(WORKLOADS) else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="fixture directory for gate_sf01 (default $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args(argv)
    if args.workload == "gate_sf01" and not (args.sf_dir and os.path.isdir(args.sf_dir)):
        ap.error("gate_sf01 needs --sf-dir or $SPARK_GRAFT_SF_DIR: an sf0.1 fixture directory")
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
