"""Checker self-test: the output checks must accept correct rankings
(tie permutations included) and flag corrupted rankings and resurrected
deleted docs.  Needs no Spark.

    python3 perfbench/selftest.py      # exit 0 when the checker works
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from checks import load_oracle_class, self_test  # noqa: E402

if __name__ == "__main__":
    wrong = self_test(load_oracle_class(ROOT))
    for w in wrong:
        print("FAIL", w)
    print("checker self-test", "failed" if wrong else "passed")
    sys.exit(1 if wrong else 0)
