import subprocess
import sys

from perfbench.harness import tree_cpu_s

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"


def test_tree_cpu_counts_child_processes():
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", BURN], check=True)
    assert tree_cpu_s() - before >= 0.4
