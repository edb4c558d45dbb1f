"""Session-memo policy and the guard that keeps caches on it (no Spark)."""

from __future__ import annotations

import ast
import pathlib
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JError

from datafusion_dist_spark.operators import common

PKG = pathlib.Path(__file__).resolve().parent.parent / "datafusion_dist_spark"


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class _Persistable:
    def __init__(self, fail_unpersist: bool = False):
        self.persisted = False
        self.fail_unpersist = fail_unpersist

    def persist(self):
        self.persisted = True
        return self

    def unpersist(self):
        if self.fail_unpersist:
            raise Py4JError("session is gone")
        self.persisted = False


@pytest.fixture
def family(request):
    name = f"test.{request.node.name}"
    yield name
    common._MEMO.pop(name, None)


def test_hit_miss_capacity_and_fingerprint(family):
    spark = _session("app-1")
    built = []

    def memo(key, fp, capacity=2):
        return common.session_memo(
            spark,
            family,
            (key,),
            lambda: built.append(key) or [key],
            fingerprint=fp,
            capacity=capacity,
        )

    a = memo("a", 1)
    h0 = common.session_cache_hits()
    assert memo("a", 1) is a and common.session_cache_hits() == h0 + 1
    assert memo("a", 2) is not a  # changed data: stale entry rebuilt
    memo("b", 1)
    memo("c", 1)  # capacity 2: evicts the oldest ("a")
    assert [k for _app, k in common._MEMO[family]] == ["b", "c"]
    memo("d", None)  # freshness unprovable: built, never stored
    memo("d", None)
    assert built == ["a", "a", "b", "c", "d", "d"]
    assert ("app-1", "d") not in common._MEMO[family]


def test_dead_application_entries_dropped_and_unpersisted(family):
    old = _Persistable(fail_unpersist=True)
    kept = _Persistable()
    common.session_memo(
        _session("dead"), family, ("x",), lambda: old,
        fingerprint=1, capacity=4, persist=True,
    )
    assert old.persisted
    got = common.session_memo(
        _session("live"), family, ("x",), lambda: kept,
        fingerprint=1, capacity=4, persist=True,
    )
    assert got is kept and kept.persisted
    # The dead session's unpersist raised; the error is swallowed.
    assert list(common._MEMO[family]) == [("live", "x")]
    common.discard(family, ("x",))
    assert not common._MEMO[family] and not kept.persisted


def test_same_rejects_a_colliding_hit(family):
    spark = _session("app-1")
    first = common.session_memo(
        spark, family, (), lambda: ["first"], fingerprint=7, capacity=1
    )
    second = common.session_memo(
        spark, family, (), lambda: ["second"], fingerprint=7, capacity=1,
        same=lambda cached: cached is not first,
    )
    assert second == ["second"]


def _cache_globals(tree: ast.Module) -> list[str]:
    found = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        for t in targets:
            if not isinstance(t, ast.Name):
                continue
            is_dict = isinstance(value, ast.Dict) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id in ("dict", "OrderedDict")
            )
            if t.id.startswith("_CACHED_") or (
                "_CACHE" in t.id and is_dict
            ):
                found.append(t.id)
    for node in ast.walk(tree):
        if isinstance(node, ast.Global):
            found += [n for n in node.names if n.startswith("_CACHED_")]
    return found


def test_no_hand_rolled_caches_in_package():
    """Cross-query state lives in common.session_memo only: a new
    module-level ``*_CACHE*`` dict or ``_CACHED_*`` global would bring
    back its own keying, eviction and hit counting."""
    offenders = {
        str(p.relative_to(PKG)): names
        for p in sorted(PKG.rglob("*.py"))
        if (names := _cache_globals(ast.parse(p.read_text())))
    }
    assert offenders == {}


def test_guard_detects_the_old_shapes():
    src = (
        "_PROBE_CACHE: dict = {}\n"
        "_QVEC_CACHE = dict()\n"
        "_CACHED_SRC_DEG = None\n"
        "def f():\n    global _CACHED_X\n"
    )
    assert _cache_globals(ast.parse(src)) == [
        "_PROBE_CACHE", "_QVEC_CACHE", "_CACHED_SRC_DEG", "_CACHED_X",
    ]
