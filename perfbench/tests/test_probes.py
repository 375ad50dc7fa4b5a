"""The /proc probes see CPU and memory of child processes."""

import os
import subprocess
import sys
import time

import probes

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_counts_a_running_busy_child():
    child = subprocess.Popen([sys.executable, "-c", BUSY.format(s=5)])
    try:
        time.sleep(0.2)
        c0 = probes.tree_cpu_s()
        time.sleep(0.8)
        busy = probes.tree_cpu_s() - c0
    finally:
        child.kill()
        child.wait(timeout=10)
    # the child burns one core for the whole window; this process idles
    assert 0.5 < busy < 1.5


def test_tree_cpu_keeps_reaped_children():
    c0 = probes.tree_cpu_s()
    subprocess.run([sys.executable, "-c", BUSY.format(s=0.6)], check=True, timeout=30)
    assert probes.tree_cpu_s() - c0 >= 0.55


def test_tree_pids_and_peak_rss_include_the_child():
    grow = "b = bytearray(200 * 2**20)\nimport time\ntime.sleep(3)\n"
    with probes.PeakRss(interval_s=0.05) as peak:
        base = probes.tree_rss_bytes()
        child = subprocess.Popen([sys.executable, "-c", grow])
        try:
            time.sleep(1.5)
            assert child.pid in probes.tree_pids(os.getpid())
        finally:
            child.kill()
            child.wait(timeout=10)
    assert peak.peak - base > 150 * 2**20


def test_peak_rss_ignores_a_single_sample_blip():
    peak = probes.PeakRss()
    for rss in (100, 500, 100, 300, 300, 100):
        peak.add(rss)
    assert peak.peak == 300


def test_thread_cpu_selects_threads_by_name():
    code = (
        "import threading, time\n"
        "def spin():\n"
        "    tid = threading.get_native_id()\n"
        "    with open(f'/proc/self/task/{tid}/comm', 'w') as f: f.write('spinner')\n"
        "    t = time.thread_time()\n"
        "    while time.thread_time() - t < 3: pass\n"
        "th = threading.Thread(target=spin)\n"
        "th.start(); th.join()\n"
    )
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        time.sleep(0.3)
        s0 = probes.tree_thread_cpu(("spinner",))
        time.sleep(0.8)
        s1 = probes.tree_thread_cpu(("spinner",))
        spun = probes.thread_cpu_delta(s0, s1)
        other = probes.tree_thread_cpu(("no-such-thread",))
    finally:
        child.kill()
        child.wait(timeout=10)
    assert len(s1) == 1 and 0.5 < spun < 1.5 and other == {}
    # a thread that appears later counts from zero, one that exits is dropped
    assert probes.thread_cpu_delta({}, {(1, 2): 0.5}) == 0.5
    assert probes.thread_cpu_delta({(1, 2): 0.5}, {}) == 0.0
