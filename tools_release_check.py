#!/usr/bin/env python
"""Mechanical source-freeze check for the per-round release checklist.

Rounds 9 AND 10 both shipped measurement artifacts (CORRECTNESS_SELF_*,
BENCH_STANDALONE_*) that PREDATE a late hardening commit to measured
source — harmless both times only because independent re-checks ran on
the final tree, but a rule that needs a human to remember it twice in a
row is not a rule (VERDICT r10 task 2). This script makes it mechanical:

  for every committed round-N artifact (*_rNN.json), the LAST commit
  touching any measured-source path must be an ANCESTOR OF (or equal
  to) the artifact's last commit — i.e. nothing that affects what the
  artifacts measure changed after they were regenerated.

Measured source = everything whose behavior the artifacts record:
the package, the entry module, the bench/tool CLIs. Tests, docs,
memory, and this script are NOT measured source — committing them
after the regen is fine and expected.

Also fails when the working tree has UNCOMMITTED changes to measured
source: artifacts regenerated on a dirty tree cannot be tied to any
commit at all.

Driver-written artifacts (CORRECTNESS_rNN.json / BENCH_rNN.json /
PERF_rNN.json / VERIFY_rNN.json) land AFTER the round's final commit by
construction and are skipped.

Usage:
  python tools_release_check.py --round 11       # exit 1 on violations
  python tools_release_check.py                  # round from max *_rNN seen
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))

# Paths (git pathspecs) whose content the round artifacts measure.
MEASURED_SOURCE = [
    "datafusion_dist_spark",
    "__spark_entry__.py",
    "bench.py",
    "bench_cores.py",
    "bench_index.py",
    "bench_memory.py",
    "bench_scale.py",
    "bench_standalone.py",
    "bench_streaming.py",
    "tools_driver_sim.py",
    "tools_scale_curve.py",
    "tools_standalone.py",
]

# Artifacts written by the external driver after the final commit —
# exempt from the freeze rule by construction.
DRIVER_WRITTEN = re.compile(r"^(CORRECTNESS|BENCH|PERF|VERIFY)_r\d+\.json$")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True,
        capture_output=True, text=True,
    ).stdout.strip()


def _last_commit(pathspecs: list[str]) -> str | None:
    out = _git("log", "-1", "--format=%H", "--", *pathspecs)
    return out or None


def _is_ancestor(ancestor: str, descendant: str) -> bool:
    rc = subprocess.run(
        ["git", "merge-base", "--is-ancestor", ancestor, descendant],
        cwd=REPO,
    ).returncode
    return rc == 0


def check(round_n: int | None = None) -> dict:
    if round_n is None:
        rounds = [
            int(m.group(1))
            for f in glob.glob(os.path.join(REPO, "*_r*.json"))
            if (m := re.search(r"_r(\d+)\.json$", os.path.basename(f)))
        ]
        if not rounds:
            raise SystemExit("no *_rNN.json artifacts found")
        round_n = max(rounds)
    tag = f"_r{round_n:02d}.json"

    violations: list[str] = []
    dirty = _git("status", "--porcelain", "--", *MEASURED_SOURCE)
    if dirty:
        violations.append(
            "uncommitted measured-source changes:\n" + dirty
        )
    src_commit = _last_commit(MEASURED_SOURCE)
    if src_commit is None:
        raise SystemExit("no commits touch measured source?")

    artifacts: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(REPO, f"*{tag}"))):
        name = os.path.basename(path)
        if DRIVER_WRITTEN.match(name):
            artifacts[name] = {"status": "driver-written, exempt"}
            continue
        art_commit = _last_commit([name])
        if art_commit is None:
            artifacts[name] = {"status": "UNCOMMITTED"}
            violations.append(f"{name}: exists but is not committed")
            continue
        ok = _is_ancestor(src_commit, art_commit)
        artifacts[name] = {
            "status": "fresh" if ok else "STALE",
            "artifact_commit": art_commit[:12],
        }
        if not ok:
            violations.append(
                f"{name}: last committed at {art_commit[:12]}, but "
                f"measured source changed later at {src_commit[:12]} — "
                "regenerate the artifact on the final tree"
            )
    return {
        "round": round_n,
        "source_last_commit": src_commit[:12],
        "artifacts": artifacts,
        "violations": violations,
    }


def main() -> None:
    argv = sys.argv[1:]
    round_n: int | None = None
    while argv:
        a = argv.pop(0)
        if a == "--round":
            round_n = int(argv.pop(0))
        else:
            raise SystemExit(f"unknown argument {a!r}")
    result = check(round_n)
    print(json.dumps(result, indent=1))
    if result["violations"]:
        print("release check FAILED", file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
