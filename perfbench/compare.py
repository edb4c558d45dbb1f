"""Compare two sets of run records (``.perfbench/runs/*.json``).

    python3 perfbench/compare.py --base a1.json a2.json ... --new b1.json ...

Prints, per end-to-end metric, each side's median and the change, and
flags a metric worse than its ``BENCHMARK.json`` bound. Records taken
on hosts with different core counts, or on different data (parquet
hashes), are refused: the comparison exits 2 and names what differs,
rather than passing or failing timings that measure different things.

Exit codes: 0 no regression, 1 regression beyond a bound, 2 refused.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class Incomparable(Exception):
    pass


def check_comparable(records: list[dict]) -> None:
    """Raise ``Incomparable`` unless every record has the same
    workload, trace mode, core count and data hashes."""
    for key in ("workload", "trace", "cores", "data_hashes"):
        seen = {json.dumps(r.get(key), sort_keys=True) for r in records}
        if len(seen) > 1:
            if key == "data_hashes":
                names = {t for r in records for t in r["data_hashes"]}
                tables = sorted(
                    t
                    for t in names
                    if len({r["data_hashes"].get(t) for r in records}) > 1
                )
                raise Incomparable(f"data hashes differ for tables {tables}")
            raise Incomparable(f"{key} differs: {sorted(seen)}")


def compare(base: list[dict], new: list[dict], spec: dict) -> tuple[list[str], bool]:
    """Report lines and whether any metric regressed beyond its bound."""
    check_comparable(base + new)
    lines, regressed = [], False
    for m in spec["end_to_end"]:
        name = m["name"]
        b = statistics.median(r["metrics"][name] for r in base)
        n = statistics.median(r["metrics"][name] for r in new)
        change = (n - b) / b
        worse = change if m["better"] == "lower" else -change
        flag = ""
        if worse > m["bound"]:
            flag, regressed = "  REGRESSION", True
        lines.append(
            f"{name:16s} base {b:10.4f}  new {n:10.4f} {m['unit']:5s} "
            f"{change:+7.1%} (bound {m['bound']:.0%}){flag}"
        )
    return lines, regressed


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/compare.py")
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        lines, regressed = compare(_load(args.base), _load(args.new), spec)
    except Incomparable as exc:
        print(f"refused: {exc}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
