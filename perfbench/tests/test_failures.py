"""Failure accounting: an op that raises is counted with its exception
class and gives no latency sample."""

import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def test_raising_op_is_counted_not_sampled():
    from run import Recorder
    from spans import Tracer

    rec = Recorder(Tracer())
    rec.timed = True
    rec.cycle(lambda: (rec.op("ok", lambda: 1), rec.op("bad", lambda: 1 / 0)))
    rec.op("checked", lambda: 2, check=lambda out: ["wrong"])
    assert rec.attempted == 3
    assert rec.failures == {"ZeroDivisionError": 1, "check:checked": 1}
    assert set(rec.samples) == {"ok"}  # a failed cycle has no cycle sample
    rec.timed = False
    rec.op("warm", lambda: 1)
    rec.op("warm", lambda: 1 / 0)
    assert rec.attempted == 4 and sum(rec.failures.values()) == 3


@pytest.fixture(scope="module")
def spark():
    from run import configure_env, stop_spark

    scratch = tempfile.mkdtemp(prefix="perfbench-test-")
    configure_env(scratch)
    from w4h_etl_container_spark.session import get_spark

    s = get_spark("perfbench-test")
    yield s
    stop_spark(s)
    shutil.rmtree(scratch, ignore_errors=True)


def test_job_global_cycle_is_recorded_as_cast_overflow(spark, tmp_path):
    from jobload import JobWorkload
    from run import Context, Recorder
    from spans import Tracer

    ctx = Context(spark, 1, str(tmp_path), Tracer(spark), None)
    wl = JobWorkload(ctx, global_grid=True)
    wl.prepare()
    rec = Recorder(ctx.tracer)
    rec.timed = True
    rec.cycle(lambda: wl.cycle(rec))
    assert rec.attempted == 1
    assert rec.failures == {"ArithmeticException:CAST_OVERFLOW": 1}
    assert not rec.samples


def test_run_without_the_program_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "job_fixture", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
