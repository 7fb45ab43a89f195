"""Puts the benchmark's modules and the repository root on sys.path.

    python3 -m pytest perfbench/tests -q            # fast tests
    python3 -m pytest perfbench/tests -q -m slow    # the Spark-backed one
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
for p in (HERE, HERE.parent):
    if str(p) not in sys.path:
        sys.path.insert(0, str(p))
