import procfs


def fake_proc(tmp_path, procs, stat_cpu="cpu  100 0 50 800 10 0 0 40 0 0", pgrp=None):
    """procs: pid -> (ppid, utime, stime, cutime, cstime, vmhwm_kb, state);
    pgrp: pid -> process group (default: its own pid)."""
    pgrp = pgrp or {}
    for pid, (ppid, ut, st, cut, cst, hwm, state) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        # the command name holds a space and a parenthesis, as real ones may
        rest = [state, str(ppid), str(pgrp.get(pid, pid))] + ["0"] * 8 + [str(ut), str(st), str(cut), str(cst)] + ["0"] * 5
        (d / "stat").write_text(f"{pid} (java (main) x) " + " ".join(rest) + "\n")
        (d / "status").write_text(f"Name:\tx\nVmPeak:\t999 kB\nVmHWM:\t{hwm} kB\n")
    (tmp_path / "stat").write_text(stat_cpu + "\ncpu0 1 2 3\n")
    (tmp_path / "loadavg").write_text("1.50 0.90 0.40 2/300 12345\n")
    return str(tmp_path)


TREE = {
    10: (1, 100, 50, 0, 0, 2048, "S"),  # the server
    11: (10, 300, 100, 20, 10, 4096, "S"),  # its JVM
    12: (11, 5, 5, 0, 0, 1024, "S"),  # a Python worker
    20: (1, 999, 999, 0, 0, 9999, "S"),  # unrelated
}


def test_process_tree(tmp_path):
    proc = fake_proc(tmp_path, TREE)
    assert sorted(procfs.process_tree(10, proc)) == [10, 11, 12]


def test_process_group_finds_orphans(tmp_path):
    # the server (10) has exited; its JVM (11) was re-parented to init
    procs = {11: (1, 0, 0, 0, 0, 0, "S"), 12: (11, 0, 0, 0, 0, 0, "S"), 20: (1, 0, 0, 0, 0, 0, "S")}
    proc = fake_proc(tmp_path, procs, pgrp={11: 10, 12: 10})
    assert procfs.process_tree(10, proc) == [10]
    assert sorted(procfs.process_group(10, proc)) == [11, 12]


def test_tree_cpu_and_delta(tmp_path):
    proc = fake_proc(tmp_path, TREE)
    cpu = procfs.tree_cpu_seconds(10, proc)
    tck = procfs.CLK_TCK
    assert cpu[10] == 150 / tck
    assert cpu[11] == 430 / tck  # utime + stime + reaped children
    before = {10: 100 / tck, 11: 430 / tck}  # 12 was born since
    assert abs(procfs.cpu_delta(before, cpu) - (50 + 10) / tck) < 1e-12


def test_peak_rss_sums_the_tree(tmp_path):
    proc = fake_proc(tmp_path, TREE)
    assert procfs.peak_rss_mb(10, proc) == (2048 + 4096 + 1024) / 1024


def test_steal_and_load(tmp_path):
    proc = fake_proc(tmp_path, TREE)
    ticks = procfs.cpu_ticks(proc)
    assert ticks == (1000, 40)
    assert procfs.steal_pct((0, 0), ticks) == 4.0
    assert procfs.loadavg_1m(proc) == 1.5


def test_zombie_counts_as_gone(tmp_path):
    proc = fake_proc(tmp_path, {30: (1, 0, 0, 0, 0, 0, "Z"), 31: (1, 0, 0, 0, 0, 0, "S")})
    assert procfs.is_gone(30, proc)
    assert not procfs.is_gone(31, proc)
    assert procfs.is_gone(32, proc)
