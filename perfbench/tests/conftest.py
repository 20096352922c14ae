"""Test set-up: the benchmark's modules and the program are imported from
the repository checkout, as perfbench/run.py does.

    python3 -m pytest perfbench/tests -q
"""

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent.parent), str(HERE.parent)]
