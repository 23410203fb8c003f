"""Point-tier fallback parity: every ``*_point`` surface must return the
distributed surface's rows when the tier cannot serve in-process.

Three forced states, each on a one-tombstone index:

- ``tier_off``: warm handle, point serving never enabled;
- ``over_budget``: ``cache_max_bytes=40`` — every posting list with more
  than one entry is too large to point-cache;
- ``tombstones``: tier on but ``dead_broadcast_max=0``, so the single
  pending delete is past the driver-array bound.

The point-cache fetch is replaced by a failing stub, so a surface that
serves in-process instead of taking the distributed path fails loudly.
"""

from __future__ import annotations

import pytest

from fts_engine_spark.federated import FederatedFtsIndex
from fts_engine_spark.operators.morelike import (
    more_like_this,
    more_like_this_point,
)
from fts_engine_spark.query import FtsIndex

MLT_DOC = 5
DECAY = dict(field="doclen", origin=6.0, scale=3.0, decay=0.5, shape="gauss")
SYN = {"hotel": ["castle"]}


def _rows(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), round(float(r["score"]), 9)) for r in df.collect()]


def _pairs(rows) -> list[tuple[int, float]]:
    return [(int(d), round(float(s), 9)) for d, s in rows]


# surface -> (point call, distributed call), both -> [(doc_id, score)]
SURFACES = {
    "bm25": (
        lambda f: _pairs(f.search_bm25_point("french hotel", k=10)),
        lambda f: _rows(f.search_bm25("french hotel", k=10)),
    ),
    "prefix": (
        lambda f: _pairs(f.search_bm25_point_prefix("hote* turtle", k=10)),
        lambda f: _rows(f.search_bm25_prefix("hote* turtle", k=10)),
    ),
    "wildcard": (
        lambda f: _pairs(f.search_bm25_point_wildcard("h?tel castle", k=10)),
        lambda f: _rows(f.search_bm25_wildcard("h?tel castle", k=10)),
    ),
    "regexp": (
        lambda f: _pairs(f.search_bm25_point_regexp("/hot.*/ french", k=10)),
        lambda f: _rows(f.search_bm25_regexp("/hot.*/ french", k=10)),
    ),
    "fuzzy": (
        lambda f: _pairs(f.search_bm25_point_fuzzy("hotels turtl", k=10)),
        lambda f: _rows(f.search_bm25_fuzzy("hotels turtl", k=10)),
    ),
    "boolean": (
        lambda f: _pairs(f.search_boolean_point("+hotel french -turtle", k=10)),
        lambda f: _rows(f.search_boolean("+hotel french -turtle", k=10)),
    ),
    "decay": (
        lambda f: _pairs(f.search_bm25_decay_point("french hotel", k=10, **DECAY)),
        lambda f: _rows(f.search_bm25_decay("french hotel", k=10, **DECAY)),
    ),
    "synonyms": (
        lambda f: _pairs(f.search_bm25_synonyms_point("hotel river", SYN, k=10)),
        lambda f: _rows(f.search_bm25_synonyms("hotel river", SYN, k=10)),
    ),
    "mlt": (
        lambda f: _pairs(more_like_this_point(f, MLT_DOC, k=10)),
        lambda f: _rows(more_like_this(f, doc_id=MLT_DOC, k=10)),
    ),
}
MODES = ("tier_off", "over_budget", "tombstones")


@pytest.fixture(scope="module")
def tombstoned(spark, small_corpus, tmp_path_factory):
    """Stored-text index over the small corpus with the top "french
    hotel" hit tombstoned."""
    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.mutate import delete_documents

    d = str(tmp_path_factory.mktemp("point_fallback") / "ix")
    build_index(
        spark,
        spark.read.parquet(small_corpus),
        d,
        BuildConfig(
            preset="by_lang", shard_size=32, id_buckets=8, n_waves=2,
            store_text=True,
        ),
        resume=False,
    )
    fts = FtsIndex(spark, d)
    top = int(fts.search_bm25("french hotel", k=1).collect()[0]["doc_id"])
    url = fts.doc_urls_local([top])[top][0]
    delete_documents(spark, d, [url])
    return d


def _no_fetch(monkeypatch, fts: FtsIndex) -> None:
    def fetch(terms, protect):
        pytest.fail(f"forced state served {terms} in-process")

    monkeypatch.setattr(fts, "_point_fetch", fetch)


def _force(fts: FtsIndex, mode: str) -> FtsIndex:
    if mode == "tier_off":
        return fts.warm()
    if mode == "over_budget":
        return fts.enable_point_serving(cache_max_bytes=40)
    fts.enable_point_serving()
    fts.dead_broadcast_max = 0
    return fts


@pytest.fixture(scope="module")
def handles(spark, tombstoned):
    opened: dict[str, FtsIndex] = {}

    def get(mode: str) -> FtsIndex:
        if mode not in opened:
            opened[mode] = _force(FtsIndex(spark, tombstoned), mode)
        return opened[mode]

    yield get
    for fts in opened.values():
        fts.close()


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("surface", sorted(SURFACES))
def test_point_surface_falls_back_to_distributed(
    monkeypatch, handles, surface, mode
):
    fts = handles(mode)
    assert fts.n_deleted == 1
    _no_fetch(monkeypatch, fts)
    point, dist = SURFACES[surface]
    want = dist(fts)
    assert want, surface  # the query is not trivially empty
    assert point(fts) == want


@pytest.mark.parametrize("mode", ("tier_off", "over_budget"))
def test_federated_point_falls_back_to_distributed(
    monkeypatch, spark, tombstoned, mode
):
    """Federated point path: any sub that cannot point-serve routes the
    whole query distributed. (Past ``dead_broadcast_max`` the federated
    distributed path itself refuses to serve, so that state is not a
    fallback here.)"""
    fed = FederatedFtsIndex(spark, [tombstoned])
    _force(fed.subs[0], mode)
    _no_fetch(monkeypatch, fed.subs[0])
    try:
        want = [
            (r["url"], r["url_md5"], round(float(r["score"]), 9))
            for r in fed.search_bm25("french hotel", k=10).collect()
        ]
        got = [
            (u, m5, round(s, 9))
            for u, m5, s in fed.search_bm25_point("french hotel", k=10)
        ]
        assert want and got == want
    finally:
        fed.subs[0].close()
