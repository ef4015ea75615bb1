"""The session-keyed artifact store (operators/artifacts.py), the shared
rep loop that attributes its builds (bench.time_reps), and the argument
checks of tools/profile_entry.py that run before any JVM starts."""

from __future__ import annotations

import ast
import copy
import importlib
import importlib.util
import pathlib
from types import SimpleNamespace
from unittest.mock import MagicMock

import pytest

import weather_bigquery_lakehouse_spark as pkg
from weather_bigquery_lakehouse_spark.operators import artifacts
from weather_bigquery_lakehouse_spark.operators import dedup as dd
from weather_bigquery_lakehouse_spark.operators import kmeans as km
from weather_bigquery_lakehouse_spark.operators import similarity as sim

REPO = pathlib.Path(__file__).resolve().parents[1]

_builds: list[str] = []


@artifacts.memoized("frame")
def _train(frame, k: int = 1, cache_key: object = None):
    _builds.append(frame.sparkSession.sparkContext.applicationId)
    return object()


@artifacts.memoized("frame")
def _train_other(frame, cache_key: object = None):
    return object()


def _frame(app: str):
    return SimpleNamespace(
        sparkSession=SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))
    )


@pytest.fixture(autouse=True)
def empty_store():
    artifacts.forget(artifacts.held())
    _builds.clear()
    yield
    artifacts.forget(artifacts.held())


def test_new_application_id_misses():
    a = _train(_frame("app-1"), cache_key="d")
    assert _train(_frame("app-1"), cache_key="d") is a
    assert _train(_frame("app-2"), cache_key="d") is not a
    assert _builds == ["app-1", "app-2"]


def test_no_cache_key_builds_fresh():
    a = _train(_frame("app-1"))
    assert _train(_frame("app-1")) is not a
    assert len(_builds) == 2 and not artifacts.held()


def test_one_slot_per_operator():
    other = _train_other(_frame("app-1"), cache_key="d")
    _train(_frame("app-1"), k=1, cache_key="d")
    _train(_frame("app-1"), k=2, cache_key="d")
    assert len(artifacts.held()) == 2  # k=2 replaced k=1; _train_other kept
    assert _train_other(_frame("app-1"), cache_key="d") is other
    _train(_frame("app-1"), k=1, cache_key="d")
    assert len(_builds) == 3


def test_forget_drops_only_the_named_keys():
    other = _train_other(_frame("app-1"), cache_key="d")
    before = artifacts.held()
    _train(_frame("app-1"), cache_key="d")
    artifacts.forget(artifacts.held() - before)
    assert artifacts.held() == before
    assert _train_other(_frame("app-1"), cache_key="d") is other
    _train(_frame("app-1"), cache_key="d")
    assert len(_builds) == 2


@artifacts.memoized("frame")
def _train_tagged(frame, k: int = 1, cache_key: object = None):
    return ("built", k)


def test_concurrent_callers_get_their_own_configuration():
    """Threads (more than cores) racing on one slot with three keys: each
    call returns the value built for its own arguments, never another
    key's, and the trainer keeps one slot."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    frame = _frame("app-1")

    def hammer(i):
        for j in range(200):
            k = (i + j) % 3
            assert _train_tagged(frame, k=k, cache_key="d") == ("built", k)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(hammer, i) for i in range(16)]
            for f in futures:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert len(artifacts.held()) == 1


_PLANES = [[0.3, 0.7]]


@pytest.mark.parametrize(
    "module, op, builder, base, param, other",
    [
        (km, "kmeans_pq_codebook", "train_grouped_codebook", {"dim": 8, "m": 4}, "m", 2),
        (km, "kmeans_pq_codebook", "train_grouped_codebook", {"dim": 8, "m": 4}, "n_iter", 3),
        (km, "kmeans_pq_codebook", "train_grouped_codebook", {"dim": 8, "m": 4}, "sample_n", 5),
        (km, "kmeans_centroids", "train_grouped_codebook", {}, "n_iter", 3),
        (km, "kmeans_centroids", "train_grouped_codebook", {}, "sample_n", 5),
        (sim, "embedding_pair_clusters", "embedding_near_dup_pairs",
         {"planes": _PLANES}, "threshold", 0.5),
        (sim, "embedding_pair_clusters", "embedding_near_dup_pairs",
         {"planes": _PLANES}, "planes", [[0.7, 0.3]]),
    ],
)
def test_changing_any_config_argument_misses(
    spark, monkeypatch, module, op, builder, base, param, other
):
    """The key holds every argument of the real trainers, so the same
    cache_key under another configuration trains again (the builders are
    stubbed: this counts trainings without running them)."""
    trained = []
    monkeypatch.setattr(
        module, builder, lambda *a, **k: trained.append(1) or MagicMock()
    )
    monkeypatch.setattr(dd, "connected_components", lambda *a, **k: MagicMock())
    emb = spark.createDataFrame(
        [(0, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    fn = getattr(module, op)
    first = fn(emb, **base, cache_key="k")
    assert fn(emb, **copy.deepcopy(base), cache_key="k") is first
    assert len(trained) == 1
    fn(emb, **{**base, param: other}, cache_key="k")
    assert len(trained) == 2


def test_application_id_read_only_in_artifact_store():
    """Session scoping lives in one place: no other module reads
    ``applicationId`` to build a key of its own."""
    root = pathlib.Path(pkg.__file__).parent
    hits = set()
    for py in sorted(root.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        if any(
            isinstance(node, ast.Attribute) and node.attr == "applicationId"
            for node in ast.walk(tree)
        ):
            hits.add(str(py.relative_to(root)))
    assert sorted(hits) == ["operators/artifacts.py"], sorted(hits)


def test_time_reps_owner_builds_every_rep_sibling_never(spark, monkeypatch):
    """The first entry that builds an artifact pays the build on every rep;
    a later entry that reads it never builds."""
    monkeypatch.syspath_prepend(str(REPO))
    bench = importlib.import_module("bench")
    per_rep: dict[str, list[int]] = {"fake_owner": [], "fake_sibling": []}

    def entry(name):
        def fn(spark_, sf_dir):
            n0 = len(_builds)
            frame = spark_.range(1)
            _train(frame, cache_key=sf_dir)
            _train(frame, cache_key=sf_dir)
            per_rep[name].append(len(_builds) - n0)
            return frame

        return SimpleNamespace(fn=fn)

    for name in per_rep:
        monkeypatch.setitem(bench.ALL_QUERIES, name, entry(name))
    for name in per_rep:
        assert len(bench.time_reps(spark, "sf_fake", name, 3)) == 3
    assert per_rep == {"fake_owner": [1, 1, 1], "fake_sibling": [0, 0, 0]}


def _profile_entry():
    spec = importlib.util.spec_from_file_location(
        "profile_entry", REPO / "tools" / "profile_entry.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "argv, message",
    [
        (["0", "flagship_star_revenue"], "integer >= 1"),
        (["two", "flagship_star_revenue"], "integer >= 1"),
        (["2"], "at least one entry name"),
        (
            ["2", "flagship_star_revenue", "no_such_entry", "nor_this"],
            "unknown entries: no_such_entry, nor_this",
        ),
    ],
)
def test_profile_entry_rejects_bad_arguments_before_jvm(monkeypatch, argv, message):
    pe = _profile_entry()

    def no_session(*a, **k):
        raise AssertionError("build_session called before the arguments were checked")

    monkeypatch.setattr(pe, "build_session", no_session)
    with pytest.raises(SystemExit) as exc:
        pe.main(argv)
    text = str(exc.value.code)
    assert text.startswith("usage: python tools/profile_entry.py") and message in text
