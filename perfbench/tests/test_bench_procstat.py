import os
import subprocess
import sys
import time

import procstat


def _stat(pid, comm, ppid, utime, stime, cutime, cstime, rss):
    # fields 3..24 of /proc/<pid>/stat; only ppid, the four times and
    # rss matter to procstat
    rest = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 6 + [rss]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


def _fake_proc(tmp_path, procs):
    for pid, fields in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, *fields))
    (tmp_path / "self").mkdir()          # non-numeric entries are skipped
    return tmp_path


def test_parse_stat_handles_spaces_and_parens_in_comm():
    text = _stat(42, "java (main) x", 7, 10, 20, 30, 40, 123)
    assert procstat.parse_stat(text) == (7, 100, 123)


def test_tree_usage_sums_live_descendants_only(tmp_path):
    proc = _fake_proc(tmp_path, {
        100: ("python", 1, 50, 10, 5, 5, 1000),       # root
        101: ("java", 100, 300, 30, 0, 0, 5000),      # child
        102: ("python3 daemon", 101, 2, 1, 40, 2, 700),  # grandchild
        200: ("other", 1, 999, 999, 999, 999, 99999),  # not in the tree
    })
    cpu, rss = procstat.tree_usage(100, proc)
    ticks = (50 + 10 + 5 + 5) + (300 + 30) + (2 + 1 + 40 + 2)
    assert cpu == ticks / procstat.CLK_TCK
    assert rss == (1000 + 5000 + 700) * procstat.PAGE


def test_tree_of_missing_root_is_empty():
    assert procstat.tree({1: (0, 0, 0)}, 5) == []


def test_live_child_cpu_and_rss_are_counted():
    burn = "import time\nx = bytearray(64 << 20)\nt = time.time()\nwhile time.time() - t < 1.0: pass\n"
    cpu0, _ = procstat.tree_usage()
    with procstat.PeakRss(interval=0.05) as rss:
        child = subprocess.Popen([sys.executable, "-c", burn])
        try:
            child.wait(timeout=30)
        finally:
            child.kill()
            child.wait(timeout=30)
        time.sleep(0.1)
    cpu1, _ = procstat.tree_usage()
    # the reaped child's CPU moved into this process's cutime
    assert cpu1 - cpu0 >= 0.5
    # the child held a 64 MiB buffer while sampled
    assert rss.peak >= 64 << 20
    assert os.getpid() in procstat.tree(procstat.snapshot(), os.getpid())


def test_host_steal_reads_the_steal_column_of_the_cpu_line(tmp_path):
    ticks = procstat.CLK_TCK
    (tmp_path / "stat").write_text(
        f"cpu  100 0 50 900 3 0 2 {7 * ticks} 0 0\ncpu0 1 2 3 4 5 6 7 8 9 10\n")
    assert procstat.host_steal_s(tmp_path) == 7.0


def test_end_processes_signals_only_what_outlives_the_grace():
    quick = subprocess.Popen([sys.executable, "-c", "pass"])
    # ignores SIGTERM, so only SIGKILL ends it
    stubborn = subprocess.Popen([sys.executable, "-c",
                                 "import signal, time\n"
                                 "signal.signal(signal.SIGTERM, signal.SIG_IGN)\n"
                                 "print(flush=True)\ntime.sleep(60)\n"],
                                stdout=subprocess.PIPE)
    stubborn.stdout.readline()           # the SIGTERM handler is set
    try:
        assert procstat.descendants() >= {stubborn.pid}
        signalled = procstat.end_processes([quick.pid, stubborn.pid], grace=2.0)
        assert signalled == [stubborn.pid]
        assert not procstat.alive(quick.pid) and not procstat.alive(stubborn.pid)
    finally:
        for p in (quick, stubborn):
            p.kill()
            p.wait(timeout=30)
    assert stubborn.returncode == -9
