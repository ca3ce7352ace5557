"""procstat: /proc parsing, tree walks and the sampler."""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procstat  # noqa: E402


def _stat_line(pid, comm, ppid, utime, stime, cutime, cstime, rss):
    # fields 3..24 of proc(5); only the ones parse_stat reads vary
    rest = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 6 + [rss]
    return f"{pid} ({comm}) " + " ".join(str(v) for v in rest)


def test_parse_stat_reads_fields_after_the_last_paren():
    st = procstat.parse_stat(_stat_line(42, "py (worker) x", 7, 10, 5, 3, 2, 900))
    assert st == procstat.ProcStat(42, "py (worker) x", 7, 15, 5, 900)


def test_parse_stat_of_this_process():
    with open("/proc/self/stat") as f:
        st = procstat.parse_stat(f.read())
    assert st.pid > 0 and st.ppid == os.getppid()
    assert st.rss_pages > 0


def _fake_proc(tmp_path, rows):
    for row in rows:
        d = tmp_path / str(row[0])
        d.mkdir()
        (d / "stat").write_text(_stat_line(*row))
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_cpu_and_python_rss(tmp_path):
    proc = _fake_proc(tmp_path, [
        (10, "java", 1, 100, 50, 7, 3, 1000),
        (11, "python3", 10, 20, 10, 5, 5, 200),  # daemon, reaped workers
        (12, "python3", 11, 30, 0, 0, 0, 300),   # live worker
        (13, "bash", 1, 999, 999, 0, 0, 5000),   # outside the tree
    ])
    stats = procstat.read_all(proc)
    assert sorted(s.pid for s in procstat.tree(stats, 10)) == [10, 11, 12]
    ticks = 100 + 50 + 7 + 3 + 20 + 10 + 5 + 5 + 30
    assert procstat.tree_cpu_s(stats, 10) == ticks / procstat.CLK_TCK
    assert procstat.python_rss_mb(stats, 10) == 500 * procstat.PAGE_BYTES / 1e6
    assert procstat.tree(stats, 99) == []


def test_sampler_sees_a_child_python_and_its_cpu():
    code = "import time\nx = bytearray(64 << 20)\nt = time.time()\nwhile time.time() - t < 1.0: pass\n"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        with procstat.TreeSampler(os.getpid(), interval_s=0.02) as sampler:
            sampler.reset()
            cpu0 = sampler.cpu_s()
            time.sleep(0.8)
            peak = sampler.peak_mb
            cpu = sampler.cpu_s() - cpu0
    finally:
        child.wait(timeout=30)
    assert child.returncode == 0
    assert peak >= 64  # this interpreter plus the child's 64 MB buffer
    assert cpu >= 0.2  # the child's busy loop is in the tree
    assert not sampler._thread.is_alive()


def test_reap_children_waits_for_adopted_orphans(tmp_path):
    # a shell that exits at once, leaving a backgrounded sleep orphaned
    code = (
        "import os, subprocess, time, procstat\n"
        "assert procstat.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 30 & echo $!'], check=True, stdout=open('pid', 'w'))\n"
        "orphan = int(open('pid').read())\n"
        "assert procstat.read_all()[orphan].ppid == os.getpid()\n"
        "t0 = time.monotonic()\n"
        "procstat.reap_children(grace_s=0.2, kill_after_s=1.0)\n"
        "assert time.monotonic() - t0 < 5\n"
        "assert orphan not in procstat.read_all()\n"
    )
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=here)
    subprocess.run([sys.executable, "-c", code], check=True, env=env, cwd=tmp_path)
