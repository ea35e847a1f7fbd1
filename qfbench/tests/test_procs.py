"""Process hygiene of the benchmark harness.

Every test starts real processes (most start a Spark JVM with Python
workers) and then checks that none of them outlives the harness:

    python3 -m pytest qfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import textwrap
import time

import pytest

from qfbench import procs

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Starts Spark, makes the JVM fork pyspark.daemon and its Python workers,
# prints "ready", then crashes or hangs (argv[2]) without stopping Spark.
SPARK_CHILD = textwrap.dedent("""
    import os, sys, time
    from data_quality_spark.session import get_spark
    spark = get_spark(extra_conf={"spark.local.dir": sys.argv[1]})
    spark.sparkContext.parallelize(range(8), 4).map(lambda x: x * 2).collect()
    print("ready", flush=True)
    if sys.argv[2] == "crash":
        os._exit(3)
    time.sleep(3600)
""")


def _env(tmp_path) -> dict:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_DRIVER_MEM": "1g",
        "TMPDIR": str(tmp_path),
    })
    return env


@pytest.fixture(scope="module", autouse=True)
def subreaper():
    procs.become_subreaper()


def _tagged(tag: str) -> list[int]:
    """Pids whose environment contains ``tag``: survivors of a harness run
    whatever session or parent they ended up in."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if tag.encode() in f.read():
                    out.append(int(name))
        except OSError:
            continue
    return out


def test_orphan_in_own_process_group_is_killed_and_reaped(tmp_path, monkeypatch):
    # like pyspark.daemon: a grandchild that moves to its own process group
    # and outlives its parent
    script = tmp_path / "orphan.py"
    script.write_text(textwrap.dedent("""
        import os, time
        if os.fork() == 0:
            os.setpgid(0, 0)
            time.sleep(3600)
        os._exit(0)
    """))
    monkeypatch.setattr(procs, "EXIT_GRACE_S", 1.0)
    run = procs.run_child([sys.executable, str(script)], _env(tmp_path), str(tmp_path / "log"),
                          timeout_s=30)
    assert run.returncode == 0 and not run.timed_out
    assert len(run.leftovers) == 1
    orphan = int(run.leftovers[0].split(":")[0])
    assert not os.path.exists(f"/proc/{orphan}")


def test_crashed_spark_driver_leaves_no_process(tmp_path):
    run = procs.run_child([sys.executable, "-c", SPARK_CHILD, str(tmp_path / "local"), "crash"],
                          _env(tmp_path), str(tmp_path / "log"), timeout_s=120)
    assert run.returncode == 3, (tmp_path / "log").read_text()[-2000:]
    assert "ready" in (tmp_path / "log").read_text()
    assert run.peak_pss_bytes > 0
    assert procs.session_members(run.sid) == []
    assert _tagged(str(tmp_path)) == []


def test_timeout_kills_the_whole_spark_tree(tmp_path):
    log = tmp_path / "log"
    t0 = time.monotonic()
    run = procs.run_child([sys.executable, "-c", SPARK_CHILD, str(tmp_path / "local"), "hang"],
                          _env(tmp_path), str(log), timeout_s=45)
    assert run.timed_out and time.monotonic() - t0 < 90
    assert "ready" in log.read_text(), log.read_text()[-2000:]
    assert any("java" in p for p in run.leftovers)
    assert procs.session_members(run.sid) == []
    assert _tagged(str(tmp_path)) == []


def test_interrupted_harness_stops_its_children():
    h = subprocess.Popen([sys.executable, os.path.join(ROOT, "qfbench", "run.py"),
                          "--workload", "rulecheck_tables", "--seed", "1", "--seconds", "30"],
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         start_new_session=True)
    tag = f"run-{h.pid}/"
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            pids = _tagged(tag)
            if any(_comm(p) == "java" for p in pids):
                break
            time.sleep(0.5)
        else:
            pytest.fail("the harness never started a JVM")
        h.send_signal(signal.SIGINT)
        rc = h.wait(timeout=60)
    finally:
        if h.poll() is None:
            h.kill()
            h.wait()
    out = h.stdout.read().decode()
    assert rc == 130
    assert '"correct"' not in out
    assert _tagged(tag) == []
    assert _zombie_children() == []
    assert not os.path.exists(os.path.join(ROOT, "qfbench", ".work", tag.rstrip("/")))


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "qfbench"), tmp_path / "qfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run([sys.executable, "qfbench/run.py", "--workload", "filter_batch",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


def _zombie_children() -> list[int]:
    """Zombies re-parented to this (subreaper) process and not reaped."""
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if rest[0] == "Z" and int(rest[1]) == os.getpid():
            out.append(int(p))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""
