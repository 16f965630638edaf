"""``perfbench/measure.py`` is the one timer for bench.py and tools/:
its process-tree CPU must count descendants at any depth, as the Spark
driver's Arrow UDF workers sit three levels below it (driver -> JVM ->
python daemon -> worker)."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Each level starts the next and waits; the last one burns ~0.5 CPU-s,
# says so, and stays alive so its time is read as a live process.
_CHAIN = """
import subprocess, sys, time
depth = int(sys.argv[1])
if depth:
    subprocess.run([sys.executable, __file__, str(depth - 1)])
else:
    t0 = time.process_time()
    while time.process_time() - t0 < 0.5:
        pass
    print("burnt", flush=True)
    time.sleep(60)
"""

# The measuring process: a fresh python, so no Spark JVM of the test
# session is in its tree.
_MEASURE = """
import os, signal, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import measure

c0 = measure.tree_cpu_s()
p = subprocess.Popen([sys.executable, sys.argv[2], "2"],
                     stdout=subprocess.PIPE, text=True, start_new_session=True)
try:
    assert p.stdout.readline().strip() == "burnt"
    print(measure.tree_cpu_s() - c0)
finally:
    os.killpg(p.pid, signal.SIGKILL)
    p.wait()
"""


def test_tree_cpu_counts_great_grandchild(tmp_path):
    chain = tmp_path / "chain.py"
    chain.write_text(_CHAIN)
    out = subprocess.run(
        [sys.executable, "-c", _MEASURE, str(REPO), str(chain)],
        capture_output=True, text=True, timeout=120, check=True,
    )
    # measurer -> depth 2 -> depth 1 -> depth 0 (the burner, three
    # levels down); a two-level walk reads only the ~0.1 s of
    # interpreter start-ups above it
    assert float(out.stdout.strip()) >= 0.4, out
