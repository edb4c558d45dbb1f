"""tools_release_check: which round artifacts the freeze rule exempts."""

from __future__ import annotations

import pytest

from tools_release_check import DRIVER_WRITTEN


@pytest.mark.parametrize(
    "name",
    ["CORRECTNESS_r12.json", "BENCH_r12.json", "PERF_r12.json", "VERIFY_r09.json"],
)
def test_driver_written_artifacts_are_exempt(name):
    assert DRIVER_WRITTEN.match(name)


@pytest.mark.parametrize(
    "name",
    [
        "BENCH_SELF_r12.json",
        "BENCH_SCALE_r12.json",
        "CORRECTNESS_SELF_r12.json",
        "CORRECTNESS_SELF_SF01_r12.json",
        "BENCH_r12_c8.json",
        "PERF_SELF_r12.json",
    ],
)
def test_builder_written_artifacts_are_checked(name):
    assert not DRIVER_WRITTEN.match(name)
