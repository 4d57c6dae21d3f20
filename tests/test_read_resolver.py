"""One read path from index pattern to view.

Every read surface (search, count, sql, field_caps, PIT) resolves an
index pattern through the same rules: comma lists, aliases expanded
recursively (plain and filtered alike, cycles rejected), wildcards
skipping closed and unreadable indexes, literals raising. Each view
then passes the same per-index step: role check, document-level
security, tombstone drop, field masking, ``_index``. These tests pin the
cases where the surfaces used to disagree.
"""

from __future__ import annotations

import contextlib
import uuid

import pytest

from opensearch_dynamodb_etl_cdk_spark.sources.fixture_gen import gen_corpus
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    FlightsEtlPipeline,
    PipelineConfig,
)

FARES, FLIGHTS = 22, 13


@pytest.fixture(scope="module")
def p(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("resolver")
    pipe = FlightsEtlPipeline(spark, PipelineConfig(
        index_root=str(tmp / "i"), checkpoint_root=str(tmp / "c")))
    pipe.bootstrap(spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"))
    pipe.reindex("fare", "fare_copy")
    pipe.put_role("fare_only", ["fare"])
    return pipe


@contextlib.contextmanager
def _aliases(p, *specs):
    """Put (name, pattern[, filter]) aliases for the block, then drop
    them, so a lingering alias cannot leak into another test's sql()."""
    try:
        for name, pattern, *flt in specs:
            p.put_alias(name, pattern, filter=flt[0] if flt else None)
        yield
    finally:
        for name, *_ in specs:
            p.delete_alias(name)


def _sql_count(p, table: str) -> int:
    return p.sql(f"SELECT COUNT(*) AS n FROM {table}").collect()[0]["n"]


def test_sql_drops_view_of_closed_index(p):
    assert p.search("fare", {"size": 1})["hits"] is not None
    p.close_index("fare")
    try:
        with pytest.raises(Exception, match="fare_index"):
            _sql_count(p, "fare_index")
        with pytest.raises(Exception, match="fare"):
            _sql_count(p, "fare")
    finally:
        p.open_index("fare")
    assert _sql_count(p, "fare_index") == FARES



def test_reindex_refuses_a_closed_source(p):
    p.close_index("fare")
    try:
        with pytest.raises(PermissionError, match="closed"):
            p.reindex("fare", "fare_closed_copy")
    finally:
        p.open_index("fare")
    assert not p.store.exists("fare_closed_copy")

def test_sql_view_follows_masking_added_later(p):
    p.search("fare_copy", {"size": 1})
    p.put_field_masking("fare_copy", ["origin"], mode="redact")
    try:
        got = {r["origin"] for r in
               p.sql("SELECT origin FROM fare_copy_index").collect()}
        assert got - {None} == {"<masked>"}
    finally:
        p.delete_field_masking("fare_copy")
    got = {r["origin"] for r in
           p.sql("SELECT origin FROM fare_copy_index").collect()}
    assert "<masked>" not in got


def test_sql_drops_view_of_index_the_role_cannot_read(p):
    p.search("fare_copy", {"size": 1})
    with p.as_role("fare_only"):
        assert _sql_count(p, "fare") == FARES
        with pytest.raises(Exception, match="fare_copy_index"):
            _sql_count(p, "fare_copy_index")
    assert _sql_count(p, "fare_copy_index") == FARES


def test_field_caps_resolves_like_search(p):
    with p.as_role("fare_only"):
        caps = p.field_caps("*")
        assert caps["indices"] == ["fare"]
        assert [r["_index"] for r in p.search("*", {"size": 100})["hits"]
                .select("_index").distinct().collect()] == ["fare"]
    with pytest.raises(ValueError, match="no such index"):
        p.field_caps("nope")
    p.close_index("flight")
    try:
        with pytest.raises(PermissionError, match="closed"):
            p.field_caps("flight")
        assert "flight" not in p.field_caps("*")["indices"]
    finally:
        p.open_index("flight")


def test_masked_agg_rejected_through_filtered_alias_over_alias(p):
    aggs = {"aggs": {"by": {"terms": {"field": "fare_class"}}}}
    p.put_field_masking("fare", ["fare_class"])
    try:
        with _aliases(p, ("fares_plain", "fare"),
                      ("den_nested", "fares_plain", {"term": {"pk": "DEN"}})):
            with pytest.raises(ValueError, match="masked"):
                p.search("fare", aggs)
            with pytest.raises(ValueError, match="masked"):
                p.search("den_nested", aggs)
            # an agg on an unmasked field still runs through the alias
            assert p.search("den_nested", {"aggs": {"by": {"terms": {
                "field": "pk"}}}})["aggregations"]["by"]
    finally:
        p.delete_field_masking("fare")


def test_plain_alias_over_alias(p):
    with _aliases(p, ("fares_plain", "fare"),
                  ("fares_outer", "fares_plain"),
                  ("den_outer", "fares_plain", {"term": {"pk": "DEN"}})):
        assert p.count("fares_outer") == FARES
        assert p.count("fares_outer,flight") == FARES + FLIGHTS
        # a plain and a filtered alias over the same alias both resolve
        assert 0 < p.count("den_outer") < FARES


def test_alias_cycle_raises_value_error(p):
    match_all = {"match_all": {}}
    with _aliases(p, ("loop_a", "loop_b", match_all),
                  ("loop_b", "loop_a", match_all)):
        with pytest.raises(ValueError, match="cycle"):
            p.search("loop_a", {})
    with _aliases(p, ("ring_a", "ring_b"), ("ring_b", "fare,ring_a")):
        with pytest.raises(ValueError, match="cycle"):
            p.count("ring_a")


def test_pit_accepts_comma_and_alias_patterns(p):
    def hits(pit):
        return p.search_pit(pit, {"size": 100})["hits"].count()

    pits = [p.open_pit("fare,flight")]
    with _aliases(p, ("travel", "fare,flight"),
                  ("den_travel", "travel", {"term": {"pk": "DEN"}})):
        pits.append(p.open_pit("travel"))
        # freezing an alias filter into a PIT is not supported
        with pytest.raises(ValueError, match="filtered alias"):
            p.open_pit("den_travel")
    try:
        assert [hits(pit) for pit in pits] == [FARES + FLIGHTS] * 2
    finally:
        for pit in pits:
            p.close_pit(pit)


def test_pit_honours_role_and_masking(p):
    flight_pit, fare_pit = p.open_pit("flight"), p.open_pit("fare")
    try:
        with p.as_role("fare_only"):
            with pytest.raises(PermissionError, match="no 'read'"):
                p.search_pit(flight_pit, {})
            assert p.search_pit(fare_pit, {})["hits"].count() == FARES
        p.put_field_masking("fare", ["fare_class"], mode="redact")
        try:
            got = {r["fare_class"] for r in
                   p.search_pit(fare_pit, {"size": 100})["hits"].collect()}
            assert got - {None} == {"<masked>"}
            with pytest.raises(ValueError, match="masked"):
                p.search_pit(fare_pit, {"aggs": {"by": {"terms": {
                    "field": "fare_class"}}}})
        finally:
            p.delete_field_masking("fare")
    finally:
        p.close_pit(flight_pit)
        p.close_pit(fare_pit)


def test_filtered_alias_filter_applies_after_union(p):
    """A filter naming a field only some of the alias's indexes carry
    still works: it applies to the union, where the missing column is
    null, not to each index."""
    p.reindex("flight", "flight_gated", pipeline={"processors": [
        {"set": {"field": "gate", "value": "B7"}}]})
    with _aliases(p, ("gated", "fare,flight_gated",
                      {"term": {"gate": "B7"}})):
        got = p.search("gated", {"size": 100})["hits"]
        assert {r["_index"] for r in got.select("_index").collect()} \
            == {"flight_gated"}
        assert got.count() == FLIGHTS


STORED_SCRIPT = {"script": {"script": {"id": "class_is",
                                       "params": {"cls": "nonstop"}}}}
TERMS_LOOKUP = {"terms": {"pk": {
    "index": "fare", "id": "DEN|ATL#2021-08-01T00:01:00#nonstop",
    "path": "pk"}}}


def _scroll_ids(p, pattern, body, size=3):
    sid, page = p.create_scroll(pattern, body, size=size)
    ids = []
    try:
        while rows := page.collect():
            ids += [r["_id"] for r in rows]
            page = p.scroll(sid)
    finally:
        p.clear_scroll(sid)
    return ids


@pytest.mark.parametrize("query", [STORED_SCRIPT, TERMS_LOOKUP],
                         ids=["stored_script", "terms_lookup"])
def test_pit_count_and_scroll_answer_like_search(p, query):
    """Every search-shaped read prepares its body in the same step, so
    a stored script or a terms lookup means the same on each."""
    p.put_script("class_is", {"script": {
        "source": "fare_class = params.cls"}})
    try:
        body = {"query": query, "size": 100}
        want = sorted(r["_id"] for r in
                      p.search("fare", body)["hits"].collect())
        assert 0 < len(want) < FARES
        pit = p.open_pit("fare")
        try:
            got = sorted(r["_id"] for r in
                         p.search_pit(pit, body)["hits"].collect())
        finally:
            p.close_pit(pit)
        assert got == want
        assert p.count("fare", {"query": query}) == len(want)
        assert sorted(_scroll_ids(p, "fare", {"query": query})) == want
    finally:
        p.delete_script("class_is")


def test_scroll_rejects_masked_field_aggregation(p):
    p.put_field_masking("fare", ["fare_class"])
    try:
        with pytest.raises(ValueError, match="masked"):
            p.create_scroll("fare", {"aggs": {"by": {"terms": {
                "field": "fare_class"}}}})
    finally:
        p.delete_field_masking("fare")


def test_scroll_pages_compute_no_aggregations(p, spark):
    """A scroll page returns hits only: an aggregation in the body adds
    no Spark job to a page."""
    sc = spark.sparkContext

    def page_jobs(body):
        sid, _ = p.create_scroll("fare", body, size=5)
        group = f"scroll-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "scroll page jobs")
        try:
            p.scroll(sid)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            p.clear_scroll(sid)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = page_jobs({})
    assert 0 < plain
    assert page_jobs({"aggs": {"by": {"terms": {"field": "pk"}}}}) <= plain


@pytest.mark.parametrize("outer,inner", [
    ("aggregations", "aggs"), ("aggs", "aggregations"),
    ("aggregations", "aggregations")])
def test_aggregations_spelling_answers_like_aggs(p, outer, inner):
    def aggs(outer, inner):
        return p.search("fare", {"size": 0, outer: {"by": {
            "terms": {"field": "pk"},
            inner: {"to": {"terms": {"field": "dest"}}}}}})["aggregations"]

    want = aggs("aggs", "aggs")
    assert want["by"]["buckets"][0]["to"]["buckets"]
    assert aggs(outer, inner) == want
