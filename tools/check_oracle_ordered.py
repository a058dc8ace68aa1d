#!/usr/bin/env python3
"""Order-sensitive oracle check: `check_oracle.py --ordered`, with the same
arguments and defaults. Row order is only defined by a total ORDER BY on the
oracle's outermost query; check_oracle.py says how oracles without one, and
rows tied on the ORDER BY keys, are compared."""
import runpy
import sys
from pathlib import Path

if __name__ == "__main__":
    sys.argv.insert(1, "--ordered")
    runpy.run_path(str(Path(__file__).with_name("check_oracle.py")), run_name="__main__")
