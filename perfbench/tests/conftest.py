import os
import sys

# The tests import the benchmark as the package ``perfbench``.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
