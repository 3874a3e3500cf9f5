from __future__ import annotations

import json
import os
import resource
import signal
import subprocess
import sys

import pytest
from conftest import ROOT

from layers import PER_LAYER, percentile, reportable, tail
from run import cpu_s, unstolen_s

# A child that burns 0.4 s of CPU and forks a grandchild that burns as
# much, then both wait to be killed.
BURN_TREE = """
import os, time
def burn(s):
    t = time.process_time()
    while time.process_time() - t < s:
        pass
r, w = os.pipe()
if os.fork() == 0:
    burn(0.4)
    os.write(w, b"x")
    time.sleep(60)
    os._exit(0)
burn(0.4)
os.read(r, 1)
print("ready", flush=True)
time.sleep(60)
"""


def test_a_percentile_needs_ten_samples_beyond_it():
    assert reportable(100, 0.9) and not reportable(99, 0.9)
    assert reportable(20, 0.5) and not reportable(19, 0.5)
    assert reportable(1000, 0.99) and not reportable(999, 0.99)


def test_tail_is_withheld_below_the_sample_floor():
    assert tail(list(range(99)), 0.9) is None
    values = list(range(1, 101))
    assert tail(values, 0.9) == 90
    # ten samples (91..100) lie beyond the reported value
    assert sum(v > tail(values, 0.9) for v in values) == 10


def test_nearest_rank_percentile():
    assert percentile([3, 1, 2], 0.5) == 2
    assert percentile([1, 2, 3, 4], 0.5) == 2
    assert percentile([5.0], 0.9) == 5.0


def test_benchmark_json_lists_every_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_unstolen_time_takes_out_the_stolen_share():
    # the work ran 30 s and was held 10 s more: a quarter of the wall time
    assert unstolen_s(10.0, 30.0, 10.0) == pytest.approx(7.5)
    assert unstolen_s(10.0, 30.0, 0.0) == 10.0


def test_cpu_time_covers_the_whole_process_tree():
    child = subprocess.Popen(
        [sys.executable, "-c", BURN_TREE], stdout=subprocess.PIPE, start_new_session=True
    )
    try:
        assert child.stdout.readline() == b"ready\n"
        total = cpu_s(child.pid)
        me = resource.getrusage(resource.RUSAGE_SELF)
        assert 0.75 <= total - (me.ru_utime + me.ru_stime) < 2.0
    finally:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait(timeout=30)
        child.stdout.close()
