#!/usr/bin/env python3
"""Compare the end-to-end metrics of two benchmark results.

    python3 perfbench/compare.py BASE.json NEW.json

Result files are the ones run.py writes to .bench_build/perfbench/results/.
Refuses (exit 2) to compare results whose workload, seed, corpus, inputs
or core count differ.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics import MetadataMismatch, check_comparable  # noqa: E402


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (_load(p) for p in argv)
    try:
        check_comparable(base["metadata"], new["metadata"])
    except MetadataMismatch as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2
    for name, b in base["end_to_end"].items():
        n = new["end_to_end"][name]
        print(f"{name:20s} {b:12.6g} -> {n:12.6g}  "
              f"{(n - b) / b * 100 if b else 0.0:+7.2f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())
