"""The session memo's one eviction path (adcirctime2cogs_spark/memo.py):
hit, data-version supersession, foreign-application drop, per-scope
clear, the cold-storage fallback — and a guard against module-level
caches growing back anywhere else in the package."""

import ast
import os
from pathlib import Path
from types import SimpleNamespace

import pytest

from adcirctime2cogs_spark import memo


@pytest.fixture
def store(monkeypatch):
    """An empty memo for the test; the session's real entries are put
    back afterwards."""
    d: dict = {}
    monkeypatch.setattr(memo, "_SESSION_MEMO", d)
    return d


def _scope(root: Path, name: str = "data") -> str:
    d = root / name
    d.mkdir()
    (d / "t.parquet").write_bytes(b"x")
    return str(d)


class _Build:
    """Counting build callable; records, at each call, whether every
    frame it built before had already been unpersisted."""

    def __init__(self, make):
        self.make = make
        self.built = []
        self.prior_released = []

    @property
    def calls(self) -> int:
        return len(self.built)

    def __call__(self):
        self.prior_released.append(not any(d.is_cached for d in self.built
                                           if hasattr(d, "is_cached")))
        v = self.make(len(self.built))
        self.built.append(v)
        return v


def test_second_get_returns_stored_value(spark, tmp_path, store):
    scope = _scope(tmp_path)
    build = _Build(lambda i: object())
    a = memo.get(spark, "v", scope, build)
    b = memo.get(spark, "v", scope, build)
    assert a is b
    assert build.calls == 1


def test_data_version_bump_rebuilds_and_unpersists(spark, tmp_path, store):
    scope = _scope(tmp_path)
    build = _Build(lambda i: spark.range(10 + i).persist())
    old = memo.get(spark, "df", scope, build)
    sibling = memo.get(spark, "sibling", scope, lambda: spark.range(3).persist())
    assert old.count() == 10 and old.is_cached
    probe = os.path.join(scope, "t.parquet")
    ns = os.stat(probe).st_mtime_ns + 1_000_000_000
    os.utime(probe, ns=(ns, ns))
    new = memo.get(spark, "df", scope, build)
    try:
        assert new is not old and build.calls == 2
        assert not old.is_cached
        # the scope's other entry is stale at the new version too
        assert not sibling.is_cached and ("sibling", scope) not in store
        # released BEFORE the rebuild, so a rebuilt identical plan can
        # never be matched onto the stale cached blocks
        assert build.prior_released == [True, True]
        assert new.count() == 11 and new.storageLevel.useMemory
        assert memo.get(spark, "df", scope, build) is new
    finally:
        memo.clear(spark, scope)


def test_foreign_application_entries_dropped_without_unpersist(
        spark, tmp_path, store):
    scope = _scope(tmp_path)
    other = _scope(tmp_path, "other")
    dead = spark.range(5).persist()
    store[("df", scope)] = ("app-stopped", memo.data_version(scope), dead)
    store[("df", other)] = ("app-stopped", memo.data_version(other), dead)
    build = _Build(lambda i: spark.range(6).persist())
    try:
        live = memo.get(spark, "df", scope, build)
        assert live is not dead and build.calls == 1
        assert dead.is_cached  # the memo never called unpersist on it
        app = spark.sparkContext.applicationId
        assert {k: e[0] for k, e in store.items()} == {("df", scope): app}
    finally:
        dead.unpersist()
        memo.clear(spark, scope)


def test_clear_unpersists_only_that_scope(spark, tmp_path, store):
    s1, s2 = _scope(tmp_path, "s1"), _scope(tmp_path, "s2")
    a = memo.get(spark, "a", s1, lambda: spark.range(7).persist())
    pair = memo.get(spark, "pair", s1, lambda: (
        spark.range(8).persist(), spark.range(9).persist()))
    b = memo.get(spark, "b", s2, lambda: spark.range(10).persist())
    try:
        memo.clear(spark, s1)
        assert not a.is_cached
        assert not any(d.is_cached for d in pair)
        assert b.is_cached
        assert set(store) == {("b", s2)}
    finally:
        memo.clear(spark, s2)
    assert not b.is_cached and store == {}


def test_unreadable_scope_keeps_serving_recorded_entry(tmp_path, store):
    """Cold storage: once the scope's files are gone, the entry this
    application recorded keeps serving instead of a rebuild that could
    not read its input."""
    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    scope = _scope(tmp_path)
    build = _Build(lambda i: f"layout-{i}")
    assert memo.get(fake, "path", scope, build) == "layout-0"
    os.remove(os.path.join(scope, "t.parquet"))
    assert memo.data_version(scope) == -1
    assert memo.get(fake, "path", scope, build) == "layout-0"
    assert build.calls == 1


_MEMO_SUFFIXES = ("_MEMO", "_CACHE", "_CACHES")
_CONTAINER_CALLS = {"dict", "set", "defaultdict", "OrderedDict",
                    "WeakKeyDictionary", "WeakValueDictionary"}


def _is_dict_or_set(value: ast.expr | None, annotation) -> bool:
    if isinstance(value, (ast.Dict, ast.Set, ast.DictComp, ast.SetComp)):
        return True
    if isinstance(value, ast.Call):
        f = value.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
        if name in _CONTAINER_CALLS:
            return True
    if annotation is not None:
        root = annotation.value if isinstance(annotation, ast.Subscript) \
            else annotation
        return isinstance(root, ast.Name) and root.id in ("dict", "set")
    return False


def test_no_module_level_memo_outside_memo_py():
    """Session state lives in memo.py only: no other package module
    binds a module-level dict or set named *_MEMO / *_CACHE /
    *_CACHES (functools.lru_cache readers are not bindings and stay)."""
    pkg = Path(memo.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == Path(memo.__file__):
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, annotation = node.targets, None
            elif isinstance(node, ast.AnnAssign):
                targets, annotation = [node.target], node.annotation
            else:
                continue
            for t in targets:
                if (isinstance(t, ast.Name) and t.id.endswith(_MEMO_SUFFIXES)
                        and _is_dict_or_set(node.value, annotation)):
                    offenders.append(f"{path.relative_to(pkg)}:{t.id}")
    assert offenders == []
