"""Search-protocol API tests: _msearch, scroll cursors, _field_caps,
docvalue_fields / stored_fields, indices_boost, and the version flag —
the round-4 protocol surface over the materialized index tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opensearch_dynamodb_etl_cdk_spark.operators.search import execute_search
from opensearch_dynamodb_etl_cdk_spark.sources.fixture_gen import gen_corpus
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    FlightsEtlPipeline,
    PipelineConfig,
)


@pytest.fixture(scope="module")
def booted(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("proto")
    cfg = PipelineConfig(
        index_root=str(tmp / "indexes"),
        checkpoint_root=str(tmp / "chk"),
    )
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    return p


def test_search_and_msearch(booted):
    res = booted.search("fare", {"query": {"term": {"pk": "DEN"}}})
    den = res["hits"].count()
    assert den >= 1
    batch = booted.msearch([
        ("fare", {"query": {"term": {"pk": "DEN"}}}),
        ("fare,flight", {"query": {"match_all": {}}}),
    ])
    assert batch[0]["hits"].count() == den
    assert batch[1]["hits"].count() == 35  # 22 fares + 13 flights


def test_scroll_pages_cover_everything_once(booted):
    sid, first = booted.create_scroll("fare", size=9)
    seen = [r["_id"] for r in first.collect()]
    assert len(seen) == 9
    while True:
        page = booted.scroll(sid)
        rows = page.collect()
        if not rows:
            break
        seen.extend(r["_id"] for r in rows)
    assert len(seen) == 22
    assert len(set(seen)) == 22  # no duplicates, no misses
    assert booted.clear_scroll(sid)
    assert not booted.clear_scroll(sid)
    with pytest.raises(ValueError):
        booted.scroll("nope")


def test_scroll_honors_query_and_sort(booted):
    body = {"query": {"term": {"pk": "DEN"}},
            "sort": [{"sk": {"order": "asc"}}, {"_id": {"order": "asc"}}]}
    sid, first = booted.create_scroll("fare", body, size=2)
    all_rows = first.collect()
    while True:
        rows = booted.scroll(sid).collect()
        if not rows:
            break
        all_rows.extend(rows)
    expected = booted.search(
        "fare", {"query": {"term": {"pk": "DEN"}}}
    )["hits"]
    assert len(all_rows) == expected.count()
    sks = [r["sk"] for r in all_rows]
    assert sks == sorted(sks)  # pages arrive in global sort order


def test_field_caps_types_and_indices(booted):
    caps = booted.field_caps("*")
    assert set(caps["indices"]) >= {"fare", "flight"}
    # pk exists in both indexes with one type
    pk = caps["fields"]["pk"]
    assert list(pk) == ["keyword"]
    assert set(pk["keyword"]["indices"]) >= {"fare", "flight"}
    assert pk["keyword"]["searchable"] and pk["keyword"]["aggregatable"]
    # internal merge columns never leak
    assert "_bucket" not in caps["fields"]
    assert "_seq" not in caps["fields"]


def test_docvalue_and_stored_fields(booted):
    view = booted.multi_index_view("fare")
    res = execute_search(view, {
        "query": {"term": {"pk": "DEN"}},
        "docvalue_fields": ["pk", {"field": "sk"}],
        "size": 5,
    })
    assert set(res["hits"].columns) == {"pk", "sk", "_id", "_index"}
    # stored_fields composes with _source: false (metadata + fields)
    res = execute_search(view, {
        "query": {"term": {"pk": "DEN"}},
        "stored_fields": ["fare_class"],
        "_source": False,
        "size": 5,
    })
    assert "fare_class" in res["hits"].columns
    assert "_id" in res["hits"].columns
    with pytest.raises(ValueError):
        execute_search(view, {"docvalue_fields": ["no_such_col"]})


def test_indices_boost_reranks(booted):
    view = booted.multi_index_view("fare,flight")
    # score every doc equally via pinned-with-no-ids (score 0) is useless;
    # use a rank_feature-style scored query instead: match + track_scores
    # over a shared analyzed field is fare-specific, so synthesize _score
    # via function_score weight (uniform 1.0) and boost flight 3×.
    body = {
        "query": {"function_score": {
            "query": {"match_all": {}},
            "functions": [{"weight": 2.0}],
        }},
        "indices_boost": [{"flight": 3.0}],
        "size": 13,
    }
    res = execute_search(view, body)
    rows = res["hits"].select("_index", "_score").collect()
    assert len(rows) == 13
    assert all(r["_index"] == "flight" for r in rows)
    assert all(abs(r["_score"] - 6.0) < 1e-12 for r in rows)


def test_version_flag_surfaces_seq(booted):
    idx = booted.read_index("fare")  # keeps _seq (merge state)
    res = execute_search(idx, {"query": {"match_all": {}},
                               "version": True, "size": 3})
    rows = res["hits"].collect()
    assert all(r["_version"] == r["_seq"] for r in rows)


def test_render_and_execute_search_template(booted):
    from opensearch_dynamodb_etl_cdk_spark.operators.search import (
        execute_search_template,
        render_search_template,
    )

    tmpl = {"query": {"term": {"pk": "{{airport}}"}}, "size": "{{k}}"}
    rendered = render_search_template(tmpl, {"airport": "DEN", "k": 5})
    assert rendered == {"query": {"term": {"pk": "DEN"}}, "size": 5}
    # embedded placeholders interpolate as strings
    assert render_search_template(
        {"q": "prefix-{{x}}-suffix"}, {"x": 7}
    ) == {"q": "prefix-7-suffix"}
    with pytest.raises(ValueError):
        render_search_template(tmpl, {"airport": "DEN"})  # missing k
    view = booted.multi_index_view("fare")
    res = execute_search_template(
        view, {"source": tmpl}, {"airport": "DEN", "k": 5}
    )
    assert res["hits"].count() == min(
        5, view.filter(F.col("pk") == "DEN").count()
    )


def test_rank_eval_metrics(booted):
    from opensearch_dynamodb_etl_cdk_spark.operators.search import rank_eval

    view = booted.multi_index_view("fare")
    ranked = [
        r["_id"]
        for r in view.orderBy("sk").limit(4).select("_id", "sk").collect()
    ]
    req = [{
        "id": "q1",
        "request": {"query": {"match_all": {}},
                    "sort": [{"sk": {"order": "asc"}}]},
        "ratings": [{"_id": ranked[0], "rating": 1},
                    {"_id": ranked[2], "rating": 1}],
    }]
    out = rank_eval(view, req, {"precision": {"k": 4}})
    assert out["metric_score"] == 0.5  # 2 relevant of 4 returned
    out = rank_eval(view, req, {"mean_reciprocal_rank": {"k": 4}})
    assert out["metric_score"] == 1.0  # first hit is relevant
    # NDCG: gains [1,0,1,0] vs ideal [1,1]
    import math

    out = rank_eval(view, req, {"dcg": {"k": 4, "normalize": True}})
    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3)
    assert abs(out["metric_score"] - dcg / idcg) < 1e-12
    with pytest.raises(ValueError):
        rank_eval(view, req, {"expected_reciprocal_rank": {}})


def test_pit_frozen_under_concurrent_delete(booted):
    pit = booted.open_pit("fare")
    before = booted.search_pit(pit, {"query": {"match_all": {}}})["hits"].count()
    assert before == 22
    # mutate the live index: delete every DEN fare
    deleted = booted.delete_by_query("fare", {"term": {"pk": "DEN"}})
    assert deleted >= 1
    live = booted.search("fare", {})["hits"].count()
    assert live == 22 - deleted
    # the PIT still serves the frozen view
    again = booted.search_pit(pit, {"query": {"match_all": {}}})["hits"].count()
    assert again == 22
    assert booted.close_pit(pit)
    assert not booted.close_pit(pit)
    with pytest.raises(ValueError):
        booted.pit_view("missing")


def test_analyze_api(booted):
    out = booted.analyze("The Quick, Brown FOX!")
    assert [t["token"] for t in out["tokens"]] == [
        "the", "quick", "brown", "fox"
    ]
    assert [t["position"] for t in out["tokens"]] == [0, 1, 2, 3]


def test_field_caps_resolves_aliases(booted):
    booted.put_alias("travel", "fare,flight")
    try:
        caps = booted.field_caps("travel")
        assert set(caps["indices"]) == {"fare", "flight"}
    finally:
        booted.delete_alias("travel")


def test_bulk_index_update_delete_in_order(spark, tmp_path_factory):
    """_bulk applies actions in list order through the merge path:
    index → update preserves unspecified fields → delete wins last;
    later actions on the same id carry strictly higher sequences."""
    tmp = tmp_path_factory.mktemp("bulk")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    before = p.index_view("fare").count()

    some = p.index_view("fare").select("_id", "fare_class").limit(2).collect()
    victim, updatee = some[0]["_id"], some[1]["_id"]
    out = p.bulk("fare", [
        {"index": {"_id": "NEW|1", "doc": {"pk": "NEW", "sk": "1",
                                           "fare_class": "nonstop"}}},
        {"update": {"_id": updatee, "doc": {"fare_class": "redeye"}}},
        {"delete": {"_id": victim}},
    ])
    assert out == {"items": 3, "indexed": 1, "created": 0,
                   "updated": 1, "deleted": 1}
    after = p.index_view("fare")
    assert after.count() == before  # +1 new, −1 deleted
    assert after.filter(F.col("_id") == victim).count() == 0
    row = after.filter(F.col("_id") == updatee).collect()[0]
    assert row["fare_class"] == "redeye"
    assert row["pk"] is not None  # unspecified fields preserved
    assert after.filter(F.col("_id") == "NEW|1").count() == 1

    # same-id actions resolve in list order: index then delete → gone
    p.bulk("fare", [
        {"index": {"_id": "TMP|1", "doc": {"pk": "TMP", "sk": "1"}}},
        {"delete": {"_id": "TMP|1"}},
    ])
    assert p.index_view("fare").filter(F.col("_id") == "TMP|1").count() == 0
    # ...and delete then index → present (order matters, not action type)
    p.bulk("fare", [
        {"delete": {"_id": "NEW|1"}},
        {"index": {"_id": "NEW|1", "doc": {"pk": "NEW", "sk": "1"}}},
    ])
    assert p.index_view("fare").filter(F.col("_id") == "NEW|1").count() == 1
    # internal/unknown fields rejected
    with pytest.raises(ValueError):
        p.bulk("fare", [{"index": {"_id": "x", "doc": {"_seq": 9}}}])
    with pytest.raises(ValueError):
        p.bulk("fare", [{"update": {"_id": "missing!", "doc": {}}}])


def test_significant_text_is_analyzed_significant_terms(booted):
    view = booted.multi_index_view("fare")
    # use whatever pk survives earlier mutating tests in this module
    # (the PIT test deletes the DEN docs) — foreground must be non-empty
    pk = view.select("pk").limit(1).collect()[0]["pk"]
    res = execute_search(view, {
        "query": {"term": {"pk": pk}},
        "aggs": {"sig": {"significant_text": {"field": "sk", "size": 3}}},
    })
    assert len(res["aggregations"]["sig"]["buckets"]) >= 1


def test_bulk_same_id_chained_actions(spark, tmp_path_factory):
    """Same-id actions within ONE bulk see earlier actions' results:
    index→update merges against the in-flight doc (not the stale
    pre-bulk image / a missing-document error), update→update chains,
    and update-after-delete fails like the public document_missing."""
    tmp = tmp_path_factory.mktemp("bulk_chain")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    # index then update the SAME new id in one bulk: the update must
    # merge into the just-indexed doc
    out = p.bulk("fare", [
        {"index": {"_id": "CHN|1", "doc": {"pk": "CHN", "sk": "1",
                                           "fare_class": "economy"}}},
        {"update": {"_id": "CHN|1", "doc": {"fare_class": "business"}}},
    ])
    assert out["indexed"] == 1 and out["updated"] == 1
    row = p.index_view("fare").filter(F.col("_id") == "CHN|1").collect()[0]
    assert row["fare_class"] == "business"
    assert row["pk"] == "CHN"  # preserved from the in-batch index

    # update→update chains: second update sees the first's result
    pre = p.index_view("fare").select("_id", "pk").filter(
        F.col("_id") != "CHN|1").limit(1).collect()[0]
    p.bulk("fare", [
        {"update": {"_id": pre["_id"], "doc": {"fare_class": "first"}}},
        {"update": {"_id": pre["_id"], "doc": {"sk": "999"}}},
    ])
    row = p.index_view("fare").filter(F.col("_id") == pre["_id"]).collect()[0]
    assert row["fare_class"] == "first"  # first update's field survived
    assert row["sk"] == "999"
    assert row["pk"] == pre["pk"]

    # update after an in-batch delete of the same id → document missing
    with pytest.raises(ValueError):
        p.bulk("fare", [
            {"delete": {"_id": "CHN|1"}},
            {"update": {"_id": "CHN|1", "doc": {"fare_class": "x"}}},
        ])


def test_rank_eval_deterministic_without_sort(booted):
    """A request with no sort and no scoring query gets a deterministic
    _id ranking injected — the metric is reproducible run-to-run."""
    from opensearch_dynamodb_etl_cdk_spark.operators.search import rank_eval

    view = booted.multi_index_view("fare")
    ids = sorted(r["_id"] for r in view.select("_id").collect())
    req = [{
        "id": "q",
        "request": {"query": {"match_all": {}}},  # unsorted, unscored
        "ratings": [{"_id": ids[0], "rating": 1}],
    }]
    out1 = rank_eval(view, req, {"precision": {"k": 3}})
    out2 = rank_eval(view, req, {"precision": {"k": 3}})
    assert out1["details"]["q"]["hits"] == ids[:3]
    assert out1 == out2


def test_sql_plugin_analog(booted):
    """_plugins/_sql: routes (and aliases) become SQL tables; read-only
    with the script sandbox enforced."""
    out = booted.sql(
        "SELECT pk, COUNT(*) AS n FROM fare GROUP BY pk ORDER BY pk"
    )
    direct = booted.index_view("fare").groupBy("pk").count()
    assert out.count() == direct.count()
    got = {(r["pk"], r["n"]) for r in out.collect()}
    want = {(r["pk"], r["count"]) for r in direct.collect()}
    assert got == want
    # joins across indexes work (it is ordinary Spark SQL underneath)
    both = booted.sql(
        "SELECT f.pk FROM fare f JOIN flight g ON f.pk = g.pk LIMIT 5"
    )
    assert both.count() >= 0
    # alias names resolve as tables
    booted.put_alias("fares_sql", "fare")
    try:
        assert booted.sql("SELECT COUNT(*) AS c FROM fares_sql").collect()[
            0]["c"] == booted.index_view("fare").count()
    finally:
        booted.delete_alias("fares_sql")
    # read-only: DML/DDL heads rejected
    with pytest.raises(ValueError):
        booted.sql("DROP TABLE fare")
    with pytest.raises(ValueError):
        booted.sql("INSERT INTO fare VALUES (1)")
    # script sandbox applies to SQL text
    with pytest.raises(PermissionError):
        booted.sql("SELECT reflect('java.lang.System', 'getenv') FROM fare")


def test_terms_enum(booted):
    """_terms_enum: distinct sorted prefix-matched values with keyset
    paging."""
    pks = sorted({r["pk"] for r in
                  booted.multi_index_view("fare").select("pk").collect()})
    assert booted.terms_enum("fare", "pk", "", size=100) == pks
    d_terms = [p for p in pks if p.startswith("D")]
    assert booted.terms_enum("fare", "pk", "D", size=100) == d_terms
    assert booted.terms_enum("fare", "pk", "d", size=100,
                             case_insensitive=True) == d_terms
    # keyset paging: two pages reassemble the full list, no overlap
    first = booted.terms_enum("fare", "pk", "", size=2)
    rest = booted.terms_enum("fare", "pk", "", size=100,
                             search_after=first[-1])
    assert first + rest == pks
    assert booted.terms_enum("missing*", "pk") == []


def test_validate_query(booted):
    ok = booted.validate_query("fare", {"query": {"term": {"pk": "DEN"}}})
    assert ok == {"valid": True, "error": None}
    bad = booted.validate_query("fare", {"query": {"nope": {}}})
    assert bad["valid"] is False and bad["error"]
    # unknown field fails analysis, not execution
    bad2 = booted.validate_query(
        "fare", {"query": {"term": {"no_such_col": 1}}})
    assert bad2["valid"] is False
    # blocked script functions surface as invalid, not PermissionError
    bad3 = booted.validate_query(
        "fare", {"query": {"script": {"script": "reflect('a','b')"}}})
    assert bad3["valid"] is False
    missing = booted.validate_query("missing_index*", {})
    assert missing["valid"] is False


def test_sql_fulltext_functions(booted):
    """The SQL plugin's full-text functions rewrite into the SAME
    analyzer algebra as the DSL match/match_phrase — results agree with
    the interpreter on the same corpus."""
    got = booted.sql(
        "SELECT _id FROM fare WHERE MATCH_QUERY(fare_class, 'nonstop')"
    )
    dsl = booted.search("fare", {"query": {"match": {
        "fare_class": "nonstop"}}})["hits"]
    assert {r["_id"] for r in got.collect()} \
        == {r["_id"] for r in dsl.select("_id").collect()}
    assert got.count() >= 1
    # phrase form: adjacency of analyzed tokens
    phrase = booted.sql(
        "SELECT _id FROM fare WHERE MATCHPHRASE(fare_class, 'nonstop')"
    )
    assert phrase.count() == got.count()
    # empty analyzed text degrades to TRUE, like a match-all
    allrows = booted.sql(
        "SELECT COUNT(*) AS c FROM fare WHERE MATCH(fare_class, '!!!')"
    ).collect()[0]["c"]
    assert allrows == booted.index_view("fare").count()


def test_rollover_lifecycle(spark, tmp_path_factory):
    """_rollover: conditions gate the roll; the new generation is an
    empty same-schema index; the alias flips atomically and the old
    generation stays readable."""
    tmp = tmp_path_factory.mktemp("rollover")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    n = p.reindex("fare", "fares-000001")
    assert n > 0
    p.put_alias("fares_write", "fares-000001")

    # condition not met → no roll
    out = p.rollover("fares_write", {"max_docs": n + 1})
    assert out == {"rolled_over": False, "old_index": "fares-000001",
                   "new_index": None, "conditions": {"max_docs": False}}

    # met → new empty generation, alias flipped
    out = p.rollover("fares_write", {"max_docs": n})
    assert out["rolled_over"] is True
    assert out["new_index"] == "fares-000002"
    assert p.get_aliases()["fares_write"] == "fares-000002"
    assert p.index_view("fares-000002").count() == 0
    assert p.index_view("fares-000001").count() == n  # old gen intact
    # schema carried over
    assert set(p.index_view("fares-000002").columns) \
        == set(p.index_view("fares-000001").columns)
    # unconditional roll increments again
    out = p.rollover("fares_write")
    assert out["new_index"] == "fares-000003"
    # suffix rule: alias to a non-numbered index needs explicit name
    p.put_alias("plain", "fare")
    with pytest.raises(ValueError):
        p.rollover("plain")
    out = p.rollover("plain", new_index="fare-v2")
    assert out["new_index"] == "fare-v2"
    with pytest.raises(ValueError):
        p.rollover("missing_alias")


def test_terms_lookup_query(booted):
    """terms lookup: the terms list comes from ONE fetched document."""
    view = booted.multi_index_view("fare")
    anchor = view.select("_id", "pk").limit(1).collect()[0]
    res = booted.search("fare", {"query": {"terms": {"pk": {
        "index": "fare", "id": anchor["_id"], "path": "pk"}}}})
    want = view.filter(F.col("pk") == anchor["pk"]).count()
    assert res["hits"].count() == want
    # nested under bool.filter
    res = booted.search("fare", {"query": {"bool": {"filter": [
        {"terms": {"pk": {"index": "fare", "id": anchor["_id"],
                          "path": "pk"}}},
        {"exists": {"field": "sk"}},
    ]}}})
    assert res["hits"].count() <= want
    with pytest.raises(ValueError):
        booted.search("fare", {"query": {"terms": {"pk": {
            "index": "fare", "id": "no|such", "path": "pk"}}}})
    # plain terms lists are untouched
    res = booted.search("fare", {"query": {"terms": {
        "pk": [anchor["pk"]]}}})
    assert res["hits"].count() == want


def test_msearch_template(booted):
    tmpl = {"query": {"term": {"pk": "{{p}}"}}}
    pks = [r["pk"] for r in booted.multi_index_view("fare")
           .select("pk").distinct().limit(2).collect()]
    out = booted.msearch_template([
        ("fare", tmpl, {"p": pks[0]}),
        ("fare", tmpl, {"p": pks[1]}),
    ])
    assert len(out) == 2
    for res, pk in zip(out, pks):
        got = {r["pk"] for r in res["hits"].select("pk").collect()}
        assert got == {pk}


def test_single_document_crud(spark, tmp_path_factory):
    """GET/PUT/_update/DELETE /_doc wrappers ride the same LWW merge."""
    tmp = tmp_path_factory.mktemp("doc_crud")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    assert p.get_doc("fare", "no|such") is None
    out = p.index_doc("fare", "CRUD|1", {"pk": "CRUD", "sk": "1",
                                         "fare_class": "economy"})
    assert out["indexed"] == 1
    got = p.get_doc("fare", "CRUD|1")
    assert got["fare_class"] == "economy" and got["pk"] == "CRUD"
    p.update_doc("fare", "CRUD|1", {"fare_class": "business"})
    got = p.get_doc("fare", "CRUD|1")
    assert got["fare_class"] == "business"
    assert got["pk"] == "CRUD"  # unspecified fields preserved
    with pytest.raises(ValueError):
        p.update_doc("fare", "no|such", {"fare_class": "x"})
    p.delete_doc("fare", "CRUD|1")
    assert p.get_doc("fare", "CRUD|1") is None


def test_cat_aliases_and_count(booted):
    booted.put_alias("cat_probe", "fare")
    try:
        rows = booted.cat_aliases()
        assert {"alias": "cat_probe", "index": "fare"} in rows
    finally:
        booted.delete_alias("cat_probe")
    n_fare = booted.multi_index_view("fare").count()
    assert booted.cat_count("fare") == {"count": n_fare}
    assert booted.cat_count("*")["count"] >= n_fare
    assert booted.cat_count("zilch*") == {"count": 0}


def test_sql_fulltext_rewrite_skips_string_literals():
    """MATCH(...)-shaped text INSIDE a SQL string literal is data, not a
    full-text call — the rewrite must leave it verbatim (r5 advisor)."""
    from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
        _rewrite_sql_fulltext,
    )

    # literal containing a MATCH-shaped substring ('' = escaped quote)
    q = "SELECT * FROM fare WHERE note = 'use MATCH(a, ''b'') here'"
    assert _rewrite_sql_fulltext(q) == q
    # a real call OUTSIDE the literal is still rewritten, the literal isn't
    q2 = ("SELECT * FROM fare WHERE note = 'MATCH(a, ''b'')' "
          "AND MATCH(fare_class, 'nonstop')")
    out = _rewrite_sql_fulltext(q2)
    assert "note = 'MATCH(a, ''b'')'" in out
    assert "arrays_overlap" in out
    assert "MATCH(fare_class" not in out


def test_bulk_create_and_upsert_semantics(spark, tmp_path_factory):
    """create fails on an existing doc (incl. one created earlier in the
    same bulk) and succeeds after a same-bulk delete; update honors
    doc_as_upsert / upsert / script / scripted_upsert through the same
    LWW merge path."""
    tmp = tmp_path_factory.mktemp("bulk_create")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    existing = p.index_view("fare").select("_id").limit(1).collect()[0]["_id"]

    # create on a fresh id succeeds and is counted separately
    out = p.bulk("fare", [
        {"create": {"_id": "C|1", "doc": {"pk": "C", "sk": "1",
                                          "fare_class": "nonstop"}}},
    ])
    assert out["created"] == 1 and out["indexed"] == 0
    assert p.index_view("fare").filter(F.col("_id") == "C|1").count() == 1
    # create on an existing id is a version conflict
    with pytest.raises(ValueError, match="version_conflict"):
        p.bulk("fare", [{"create": {"_id": existing, "doc": {}}}])
    # ...including a doc created earlier in the SAME bulk
    with pytest.raises(ValueError, match="version_conflict"):
        p.bulk("fare", [
            {"create": {"_id": "C|2", "doc": {"pk": "C", "sk": "2"}}},
            {"create": {"_id": "C|2", "doc": {"pk": "C", "sk": "2"}}},
        ])
    # ...but a same-bulk delete clears the way
    out = p.bulk("fare", [
        {"delete": {"_id": "C|1"}},
        {"create": {"_id": "C|1", "doc": {"pk": "C", "sk": "1",
                                          "fare_class": "redeye"}}},
    ])
    assert out["created"] == 1 and out["deleted"] == 1
    row = p.index_view("fare").filter(F.col("_id") == "C|1").collect()[0]
    assert row["fare_class"] == "redeye"

    # update without doc_as_upsert still raises on a missing doc
    with pytest.raises(ValueError, match="no document"):
        p.bulk("fare", [{"update": {"_id": "U|1",
                                    "doc": {"fare_class": "x"}}}])
    # doc_as_upsert: the partial doc becomes the document
    out = p.bulk("fare", [
        {"update": {"_id": "U|1", "doc": {"pk": "U", "sk": "1",
                                          "fare_class": "nonstop"},
                    "doc_as_upsert": True}},
    ])
    assert out["updated"] == 1
    row = p.index_view("fare").filter(F.col("_id") == "U|1").collect()[0]
    assert row["fare_class"] == "nonstop"
    # existing doc: doc merges, upsert ignored
    p.bulk("fare", [
        {"update": {"_id": "U|1", "doc": {"fare_class": "redeye"},
                    "upsert": {"pk": "ZZZ", "sk": "9"}}},
    ])
    row = p.index_view("fare").filter(F.col("_id") == "U|1").collect()[0]
    assert row["fare_class"] == "redeye" and row["pk"] == "U"
    # missing doc with upsert: the upsert document verbatim (doc ignored)
    p.bulk("fare", [
        {"update": {"_id": "U|2", "doc": {"fare_class": "never"},
                    "upsert": {"pk": "U", "sk": "2",
                               "fare_class": "firstwrite"}}},
    ])
    row = p.index_view("fare").filter(F.col("_id") == "U|2").collect()[0]
    assert row["fare_class"] == "firstwrite"


def test_bulk_scripted_update_and_scripted_upsert(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("bulk_script")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    p.bulk("fare", [{"index": {"_id": "S|1", "doc": {
        "pk": "S", "sk": "1", "fare_class": "nonstop"}}}])
    # script over the current image, engine dialect (Spark SQL expr)
    p.bulk("fare", [{"update": {"_id": "S|1", "script": {
        "fare_class": "concat(fare_class, '-x')"}}}])
    row = p.index_view("fare").filter(F.col("_id") == "S|1").collect()[0]
    assert row["fare_class"] == "nonstop-x" and row["pk"] == "S"
    # doc and script together are rejected
    with pytest.raises(ValueError, match="mutually exclusive"):
        p.bulk("fare", [{"update": {"_id": "S|1", "doc": {"pk": "S"},
                                    "script": {"pk": "'x'"}}}])
    # script on missing doc without any upsert raises
    with pytest.raises(ValueError, match="no document"):
        p.bulk("fare", [{"update": {"_id": "S|2", "script": {
            "fare_class": "'x'"}}}])
    # upsert WITHOUT scripted_upsert: upsert indexed verbatim, no script
    p.bulk("fare", [{"update": {"_id": "S|2",
                                "script": {"fare_class":
                                           "concat(fare_class, '-x')"},
                                "upsert": {"pk": "S", "sk": "2",
                                           "fare_class": "base"}}}])
    row = p.index_view("fare").filter(F.col("_id") == "S|2").collect()[0]
    assert row["fare_class"] == "base"
    # scripted_upsert: the script ALSO runs against the upsert image
    p.bulk("fare", [{"update": {"_id": "S|3",
                                "script": {"fare_class":
                                           "concat(fare_class, '-x')"},
                                "upsert": {"pk": "S", "sk": "3",
                                           "fare_class": "base"},
                                "scripted_upsert": True}}])
    row = p.index_view("fare").filter(F.col("_id") == "S|3").collect()[0]
    assert row["fare_class"] == "base-x"
    # the script dialect blocks the JVM/UDF escape hatches
    with pytest.raises(Exception):
        p.bulk("fare", [{"update": {"_id": "S|1", "script": {
            "fare_class": "reflect('java.lang.System', 'getenv')"}}}])


def test_search_pipeline_registry_and_hybrid(spark, tmp_path_factory):
    """PUT/GET/DELETE _search/pipeline + hybrid search through a
    registered pipeline (the public ?search_pipeline= flow)."""
    tmp = tmp_path_factory.mktemp("searchpipe")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    spec = {"phase_results_processors": [{"normalization-processor": {
        "normalization": {"technique": "min_max"},
        "combination": {"technique": "arithmetic_mean"}}}]}
    assert p.put_search_pipeline("norm", spec) == {"acknowledged": True}
    assert p.get_search_pipeline("norm")["phase_results_processors"]
    # validation up front
    with pytest.raises(ValueError, match="phase_results processor"):
        p.put_search_pipeline("bad", {"phase_results_processors": [
            {"rerank": {}}]})
    with pytest.raises(ValueError, match="normalization"):
        p.put_search_pipeline("bad", {"phase_results_processors": [
            {"normalization-processor": {
                "normalization": {"technique": "rank"}}}]})
    # hybrid search referencing the registered pipeline by id
    res = p.search("fare", {
        "query": {"hybrid": {"queries": [
            {"term": {"pk": "DEN"}},
            {"wildcard": {"fare_class": "*non*"}},
        ]}},
        "size": 5,
    }, search_pipeline="norm")
    rows = res["hits"].select("_id", "_score").collect()
    assert rows and all(0.0 <= r["_score"] <= 1.0 for r in rows)
    # both-clause matches (score 1.0) rank above single-clause (0.5)
    scores = [r["_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    with pytest.raises(ValueError, match="no such search pipeline"):
        p.search("fare", {"query": {"match_all": {}}},
                 search_pipeline="nope")
    assert p.delete_search_pipeline("norm") is True
    assert p.delete_search_pipeline("norm") is False


def test_data_streams(spark, tmp_path_factory):
    """Data streams: append-only writes to the current generation,
    rollover bumps it, search spans every generation, delete drops the
    backing indexes."""
    tmp = tmp_path_factory.mktemp("ds")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)

    assert p.create_data_stream("logs") == {"acknowledged": True}
    with pytest.raises(ValueError, match="already exists"):
        p.create_data_stream("logs")
    with pytest.raises(ValueError, match="@timestamp"):
        p.data_stream_append("logs", [{"msg": "no ts"}])

    assert p.data_stream_append("logs", [
        {"@timestamp": "2024-01-01 00:00:00", "level": "INFO", "msg": "a"},
        {"@timestamp": "2024-01-01 01:00:00", "level": "WARN", "msg": "b"},
    ]) == 2
    out = p.rollover_data_stream("logs")
    assert out == {"rolled_over": True, "old_index": ".ds-logs-000001",
                   "new_index": ".ds-logs-000002"}
    p.data_stream_append("logs", [
        {"@timestamp": "2024-01-02 00:00:00", "level": "ERROR", "msg": "c"},
    ])
    meta = p.get_data_stream("logs")["logs"]
    assert meta["generation"] == 2
    assert meta["indices"] == [".ds-logs-000001", ".ds-logs-000002"]

    # search spans every generation; _index names the backing index
    res = p.search_data_stream("logs", {
        "query": {"match_all": {}},
        "sort": [{"@timestamp": "asc"}], "size": 10})
    rows = res["hits"].collect()
    assert [r["msg"] for r in rows] == ["a", "b", "c"]
    assert rows[0]["_index"] == ".ds-logs-000001"
    assert rows[-1]["_index"] == ".ds-logs-000002"
    # a @timestamp range prunes
    res = p.search_data_stream("logs", {"query": {"range": {
        "@timestamp": {"gte": "2024-01-02T00:00:00"}}}})
    assert [r["msg"] for r in res["hits"].collect()] == ["c"]
    # ids are unique and monotonic across generations
    assert p.data_stream_append("logs", [
        {"@timestamp": "2024-01-03 00:00:00", "level": "INFO", "msg": "d"}
    ]) == 1
    res = p.search_data_stream("logs", {"size": 10})
    assert len({r["_id"] for r in res["hits"].collect()}) == 4
    # schema drift rejected
    with pytest.raises(ValueError, match="schema drift"):
        p.data_stream_append("logs", [
            {"@timestamp": "2024-01-04 00:00:00", "other": 1}])

    assert p.delete_data_stream("logs") is True
    assert p.delete_data_stream("logs") is False
    with pytest.raises(ValueError, match="no such data stream"):
        p.search_data_stream("logs", {})


def test_termvectors_and_cluster_health(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("tv")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    assert p.cluster_health()["status"] == "yellow"  # not bootstrapped
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    h = p.cluster_health()
    assert h["status"] == "green" and not h["pending_routes"]

    p.bulk("fare", [{"index": {"_id": "TV|1", "doc": {
        "pk": "TV", "sk": "1",
        "fare_class": "nonstop red-eye nonstop"}}}])
    tv = p.termvectors("fare", "TV|1", ["fare_class"])
    terms = tv["term_vectors"]["fare_class"]["terms"]
    assert terms["nonstop"]["term_freq"] == 2
    assert terms["nonstop"]["positions"] == [0, 3]
    assert terms["red"]["positions"] == [1]
    # term_statistics: corpus df/ttf for exactly the doc's terms
    tv = p.termvectors("fare", "TV|1", ["fare_class"],
                       term_statistics=True)
    terms = tv["term_vectors"]["fare_class"]["terms"]
    live = p.index_view("fare")
    expected_df = live.filter(
        F.array_contains(
            F.filter(F.split(F.lower(F.col("fare_class")),
                             r"[^\p{L}\p{Nd}]+"), lambda x: x != ""),
            "nonstop")).count()
    assert terms["nonstop"]["doc_freq"] == expected_df
    assert terms["nonstop"]["ttf"] >= terms["nonstop"]["doc_freq"]
    with pytest.raises(ValueError, match="no document"):
        p.termvectors("fare", "missing", ["fare_class"])
    with pytest.raises(ValueError, match="no field"):
        p.termvectors("fare", "TV|1", ["nope"])


def test_ism_policy_tick(spark, tmp_path_factory):
    """ISM-lite: one tick rolls the write generation when conditions
    are met and trims generations beyond keep_generations — never the
    write index, never a configured CDC route."""
    tmp = tmp_path_factory.mktemp("ism")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    p.reindex("fare", "logs-000001")
    p.put_alias("logs_write", "logs-000001")

    # unconditional roll twice → generations 1..3
    for _ in range(2):
        out = p.apply_ism_policy("logs_write", {"rollover": {}})
        assert out["rolled_over"] is True
    assert p.get_aliases()["logs_write"] == "logs-000003"

    # retention trims the oldest beyond keep_generations=2
    out = p.apply_ism_policy("logs_write", {"keep_generations": 2})
    assert out == {"rolled_over": False, "deleted": ["logs-000001"],
                   "merged": []}
    assert p.index_view("logs-000001") is None
    assert p.index_view("logs-000002") is not None
    # idempotent: a second tick deletes nothing more
    out = p.apply_ism_policy("logs_write", {"keep_generations": 2})
    assert out["deleted"] == []
    # combined: roll + trim in one tick
    out = p.apply_ism_policy("logs_write", {"rollover": {},
                                            "keep_generations": 2})
    assert out["rolled_over"] is True
    assert out["deleted"] == ["logs-000002"]

    # CDC routes refuse deletion
    with pytest.raises(ValueError, match="configured CDC route"):
        p.delete_index("fare")
    assert p.delete_index("never-existed") is False
    with pytest.raises(ValueError, match="keep_generations"):
        p.apply_ism_policy("logs_write", {"keep_generations": 0})

    # warm-phase force_merge compacts every non-write generation; the
    # write index is skipped and doc-visible state is unchanged
    before = p.index_view("logs-000003").count()
    out = p.apply_ism_policy("logs_write", {
        "force_merge": {"max_num_segments": 1}})
    assert out["merged"] == ["logs-000003"]  # write index is -000004
    assert p.get_aliases()["logs_write"] == "logs-000004"
    assert p.index_view("logs-000003").count() == before


def test_rollup_tick_resumes_and_matches_direct_agg(spark,
                                                    tmp_path_factory):
    """Index-rollup job: each tick appends only COMPLETE windows newer
    than the dest's own cursor; the union of ticks equals one direct
    aggregation; the newest (still-filling) window is held back."""
    tmp = tmp_path_factory.mktemp("rollup_job")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    p.create_data_stream("m")
    p.data_stream_append("m", [
        {"@timestamp": f"2024-01-01 0{h}:{mm:02d}:00", "host": host,
         "v": float(h * 10 + mm)}
        for h in range(3) for mm in (0, 30) for host in ("a", "b")
    ])

    cfg_args = dict(source_pattern=".ds-m-*", dest="m_rollup",
                    ts_field="@timestamp", interval="1h",
                    groups=["host"],
                    metrics={"v": ["sum", "max", "value_count"]})
    n1 = p.rollup_tick(**cfg_args)
    # hours 00 and 01 complete (02 is the newest window, held back)
    assert n1 == 4  # 2 windows x 2 hosts
    # a second tick with no new data appends nothing (idempotent)
    assert p.rollup_tick(**cfg_args) == 0
    # new data completes hour 02 once an 03 event lands
    p.data_stream_append("m", [
        {"@timestamp": "2024-01-01 03:00:00", "host": "a", "v": 1.0}])
    n2 = p.rollup_tick(**cfg_args)
    assert n2 == 2  # hour 02 for both hosts
    rolled = spark.read.parquet(str(tmp / "i" / "m_rollup"))
    direct = (
        p.multi_index_view(".ds-m-*")
        .withColumn("window", F.date_trunc("hour", F.col("@timestamp")))
        .filter(F.col("window") < "2024-01-01 03:00:00")
        .groupBy("window", "host")
        .agg(F.count(F.lit(1)).alias("doc_count"),
             F.sum(F.col("v").cast("decimal(28,6)")).cast("double")
             .alias("v_sum"),
             F.max("v").alias("v_max"),
             F.count("v").alias("v_count"))
    )
    a = sorted(map(tuple, rolled.select(*direct.columns).collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b
    with pytest.raises(ValueError, match="rollup metric"):
        p.rollup_tick(source_pattern=".ds-m-*", dest="m2",
                      ts_field="@timestamp", interval="1h", groups=[],
                      metrics={"v": ["median"]})


def test_stored_scripts_registry_and_resolution(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("scripts")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    # registry CRUD + PUT-time validation
    p.put_script("is_class", {"script": {
        "lang": "spark_sql", "source": "fare_class = params.cls"}})
    assert p.get_script("is_class")["source"] == "fare_class = params.cls"
    with pytest.raises(ValueError, match="lang"):
        p.put_script("bad", {"script": {"lang": "painless",
                                        "source": "doc['x']"}})
    with pytest.raises(PermissionError):  # escape hatch blocked at PUT time
        p.put_script("evil", {"script": {"source": "reflect('x')"}})
    with pytest.raises(ValueError, match="source"):
        p.put_script("empty", {"script": {}})

    # stored script inside a search body: script query with params
    direct = p.search("fare", {"query": {"bool": {"filter": [
        {"script": {"script": {"source": "fare_class = 'nonstop'"}}},
    ]}}})["hits"].count()
    stored = p.search("fare", {"query": {"bool": {"filter": [
        {"script": {"script": {"id": "is_class",
                               "params": {"cls": "nonstop"}}}},
    ]}}})["hits"].count()
    assert stored == direct >= 1
    # string params are quoted, never spliced: a malicious value stays
    # a literal comparison (matches nothing) instead of new syntax
    inj = p.search("fare", {"query": {"bool": {"filter": [
        {"script": {"script": {"id": "is_class",
                               "params": {"cls": "x' OR 1=1 --"}}}},
    ]}}})["hits"].count()
    assert inj == 0
    with pytest.raises(ValueError, match="unbound param"):
        p.search("fare", {"query": {"bool": {"filter": [
            {"script": {"script": {"id": "is_class"}}}]}}})
    with pytest.raises(ValueError, match="no such stored script"):
        p.search("fare", {"query": {"bool": {"filter": [
            {"script": {"script": {"id": "ghost"}}}]}}})

    # stored column-map script through a bulk update
    p.put_script("upclass", {"script": {"source": {
        "fare_class": "upper(fare_class)"}}})
    some = p.index_view("fare").select("_id", "fare_class").limit(1).collect()
    _id, before = some[0]["_id"], some[0]["fare_class"]
    p.bulk("fare", [{"update": {"_id": _id, "script": {"id": "upclass"}}}])
    row = p.index_view("fare").filter(F.col("_id") == _id).collect()[0]
    assert row["fare_class"] == before.upper()

    # and through update_by_query with params
    p.put_script("setclass", {"script": {"source": {
        "fare_class": "params.v"}}})
    n = p.update_by_query("fare", {"term": {"_id": _id}},
                          {"id": "setclass", "params": {"v": "promo"}})
    assert n == 1
    row = p.index_view("fare").filter(F.col("_id") == _id).collect()[0]
    assert row["fare_class"] == "promo"

    assert p.delete_script("is_class")
    assert not p.delete_script("is_class")


def test_index_templates_apply_at_creation_only(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("templates")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)

    p.put_index_template("fares", {
        "index_patterns": ["fare*"],
        "template": {"settings": {"number_of_buckets": 2}},
        "priority": 10,
    })
    p.put_index_template("wide", {
        "index_patterns": ["f*"],
        "template": {"settings": {"number_of_shards": 7}},
        "priority": 1,
    })
    with pytest.raises(ValueError, match="index_patterns"):
        p.put_index_template("nopat", {"template": {"settings": {}}})
    with pytest.raises(ValueError, match="positive"):
        p.put_index_template("zero", {
            "index_patterns": ["x*"],
            "template": {"settings": {"number_of_buckets": 0}}})

    # simulate: highest priority wins, both matches reported
    sim = p.simulate_index_template("fare")
    assert sim["matched"] == ["fares", "wide"]
    assert sim["n_buckets"] == 2
    # the public number_of_shards spelling resolves too
    assert p.simulate_index_template("flight")["n_buckets"] == 7
    assert p.simulate_index_template("other")["matched"] == []

    # creation applies the template and PINS it
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    fare = p.read_index("fare")
    assert fare.select("_bucket").distinct().count() <= 2
    assert p._route_n_buckets("fare") == 2
    # a later, higher-priority template must NOT re-bucket a live index
    p.put_index_template("late", {
        "index_patterns": ["fare"],
        "template": {"settings": {"number_of_buckets": 13}},
        "priority": 99,
    })
    assert p._route_n_buckets("fare") == 2
    assert p.simulate_index_template("fare")["n_buckets"] == 13

    assert p.delete_index_template("wide")
    assert not p.delete_index_template("wide")
    with pytest.raises(ValueError, match="no such index template"):
        p.get_index_template("wide")


def test_cluster_stats_and_forcemerge(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cstats")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    stats = p.cluster_stats()
    total = sum(p.index_view(r).count() for r in cfg.routes)
    assert stats["indices"]["count"] >= len(cfg.routes)
    assert stats["indices"]["docs"]["count"] == total
    assert stats["indices"]["store"]["size_in_bytes"] > 0
    assert stats["nodes"]["parallelism"] >= 1

    # forcemerge = compact: doc-visible state unchanged, ack returned
    before = sorted(
        tuple(r) for r in p.index_view("fare").select("_id", "_seq").collect()
    )
    assert p.forcemerge("fare", max_num_segments=1) == {"acknowledged": True}
    after = sorted(
        tuple(r) for r in p.index_view("fare").select("_id", "_seq").collect()
    )
    assert before == after


def test_rank_eval_err_and_fuzzy_completion(spark):
    from opensearch_dynamodb_etl_cdk_spark.operators.search import (
        execute_search,
        rank_eval,
    )

    df = spark.createDataFrame(
        [("1", "apple", 5.0), ("2", "apply", 3.0), ("3", "maple", 1.0),
         ("4", "apple", 2.0)],
        "_id string, word string, sc double",
    )
    # ERR: ranking by sc desc -> ids 1,2,4(,3 filtered by k)
    res = rank_eval(
        df,
        [{"id": "q", "request": {"query": {"match_all": {}},
                                 "sort": [{"sc": "desc"}]},
          "ratings": [{"_id": "1", "rating": 2}, {"_id": "2", "rating": 0},
                      {"_id": "4", "rating": 1}]}],
        {"expected_reciprocal_rank": {"maximum_relevance": 2, "k": 3}},
    )
    r1 = (2 ** 2 - 1) / 4.0           # 0.75
    r3 = (2 ** 1 - 1) / 4.0           # 0.25
    want = r1 / 1 + (1 - r1) * 0.0 / 2 + (1 - r1) * 1.0 * r3 / 3
    assert abs(res["metric_score"] - want) < 1e-12
    with pytest.raises(ValueError, match="maximum_relevance"):
        rank_eval(df, [{"request": {"query": {"match_all": {}}},
                        "ratings": []}],
                  {"expected_reciprocal_rank": {"k": 3}})

    # fuzzy completion: 'appel' is 2 edits from 'apple' head, 1st char
    # anchored; exact prefix match would find nothing
    res = execute_search(df, {"suggest": {"s": {
        "prefix": "appel",
        "completion": {"field": "word", "fuzzy": {"fuzziness": 2}},
    }}})
    opts = res["suggest"]["s"][0]["options"]
    assert [o["text"] for o in opts] == ["apple", "apply"]
    assert opts[0]["freq"] == 2
    res = execute_search(df, {"suggest": {"s": {
        "prefix": "appel", "completion": {"field": "word"},
    }}})
    assert res["suggest"]["s"][0]["options"] == []
    # AUTO ladder: 5-char prefix -> 1 edit -> both apple and apply are
    # one substitution from 'appli'; bare {} means all-default fuzzy
    res = execute_search(df, {"suggest": {"s": {
        "prefix": "appli",
        "completion": {"field": "word", "fuzzy": {}},
    }}})
    assert [o["text"] for o in res["suggest"]["s"][0]["options"]] \
        == ["apple", "apply"]


def test_stored_search_templates(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("templ")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    p.put_script("by_class", {"script": {"lang": "mustache", "source": {
        "query": {"term": {"fare_class": "{{cls}}"}},
        "size": "{{k}}",
    }}})
    # render without running; typed single-placeholder params survive
    rendered = p.render_template({"id": "by_class"},
                                 {"cls": "nonstop", "k": 3})
    assert rendered == {"query": {"term": {"fare_class": "nonstop"}},
                        "size": 3}
    # stored-by-id execution ≡ inline execution ≡ direct search
    direct = p.search("fare", rendered)["hits"].count()
    stored = p.search_template("fare", {
        "id": "by_class", "params": {"cls": "nonstop", "k": 3}})
    assert stored["hits"].count() == direct == 3
    # JSON-string template sources parse at PUT time
    p.put_script("js", {"script": {"lang": "mustache",
                                   "source": '{"query": {"match_all": {}}}'}})
    assert p.search_template("fare", {"id": "js", "params": {}})[
        "hits"].count() == p.index_view("fare").count()
    # msearch_template accepts stored ids
    out = p.msearch_template([
        ("fare", {"id": "by_class"}, {"cls": "nonstop", "k": 1}),
        ("fare", {"source": {"query": {"match_all": {}}}}, {}),
    ])
    assert out[0]["hits"].count() == 1
    # cross-dialect misuse fails loudly both ways
    p.put_script("expr", {"script": {"source": "fare_class = 'x'"}})
    with pytest.raises(ValueError, match="not a search template"):
        p.search_template("fare", {"id": "expr"})
    with pytest.raises(ValueError, match="not an expression"):
        p.search("fare", {"query": {"bool": {"filter": [
            {"script": {"script": {"id": "by_class"}}}]}}})
    with pytest.raises(ValueError, match="search body"):
        p.put_script("bad", {"script": {"lang": "mustache", "source": 7}})


def test_index_blocks(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("blocks")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    assert p.add_block("fare", "write")["blocks"] == ["write"]
    for fn in (
        lambda: p.bulk("fare", [{"delete": {"_id": "x"}}]),
        lambda: p.index_doc("fare", "x", {"pk": "X"}),
        lambda: p.delete_by_query("fare", {"term": {"pk": "DEN"}}),
        lambda: p.update_by_query("fare", {"term": {"pk": "DEN"}},
                                  {"fare_class": "'x'"}),
        lambda: p.reindex("flight", "fare"),
    ):
        with pytest.raises(PermissionError, match="write-blocked"):
            fn()
    # reads and metadata ops still work under `write`
    assert p.search("fare", {})["hits"].count() == 22
    doubled = p._route_n_buckets("fare") * 2
    p.split_index("fare", 2)
    assert p._route_n_buckets("fare") == doubled
    assert p.remove_block("fare", "write")["blocks"] == []
    assert p.delete_by_query("fare", {"term": {"pk": "DEN"}}) >= 1

    # read_only blocks writes AND resize
    p.add_block("fare", "read_only")
    with pytest.raises(PermissionError):
        p.bulk("fare", [{"delete": {"_id": "x"}}])
    with pytest.raises(PermissionError, match="read_only"):
        p.split_index("fare", 2)
    assert p.search("fare", {})["hits"].count() > 0
    p.remove_block("fare", "read_only")

    with pytest.raises(ValueError, match="unsupported block"):
        p.add_block("fare", "metadata")
    with pytest.raises(ValueError, match="no such index"):
        p.add_block("ghost", "write")
    # block writes merge with (not clobber) the bucket-count setting
    p.add_block("fare", "write")
    p.remove_block("fare", "write")
    assert p._route_n_buckets("fare") == doubled


def test_filtered_aliases(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("falias")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    p.put_alias("den_fares", "fare",
                filter={"term": {"pk": "DEN"}})
    want = p.index_view("fare").filter(F.col("pk") == "DEN").count()
    assert want >= 1
    # search through the alias sees only the row-scoped view; the
    # alias filter ANDs with the request's own query
    assert p.search("den_fares", {})["hits"].count() == want
    got = p.search("den_fares", {
        "query": {"exists": {"field": "fare_class"}}})["hits"].count()
    assert got <= want
    # mixed pattern: plain index + filtered alias (fare rows counted
    # twice: once unfiltered, once scoped — the public union semantics)
    both = p.search("flight,den_fares", {})["hits"].count()
    assert both == p.index_view("flight").count() + want
    # registry behavior: plain aliases unaffected; filters survive
    # unrelated writes; delete removes; PUT-time validation rejects
    p.put_alias("all_fares", "fare")
    assert p.get_aliases()["den_fares"] == "fare"
    p.delete_alias("all_fares")
    assert p.search("den_fares", {})["hits"].count() == want
    with pytest.raises(Exception):
        p.put_alias("bad", "fare", filter={"nope": {}})
    p.delete_alias("den_fares")
    with pytest.raises(ValueError, match="no such index"):
        p.search("den_fares", {})


def test_review_r6b_regressions(spark, tmp_path_factory):
    """Round-6 session-2 review findings, each pinned: filtered-alias
    scope on the SQL surface, rollover preserving alias filters, and
    column-aware script-envelope sniffing."""
    tmp = tmp_path_factory.mktemp("r6b")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    # (1) sql() must honor a filtered alias's row scope
    p.put_alias("den_view", "fare", filter={"term": {"pk": "DEN"}})
    want = p.index_view("fare").filter(F.col("pk") == "DEN").count()
    got = p.sql("SELECT COUNT(*) AS n FROM den_view").collect()[0]["n"]
    assert got == want

    # (2) rollover preserves the alias filter across the flip
    p.reindex("fare", "gen-000001")
    p.put_alias("gen_write", "gen-000001",
                filter={"term": {"pk": "DEN"}})
    scoped_before = p.search("gen_write", {})["hits"].count()
    assert p.rollover("gen_write", None)["rolled_over"]
    # new generation is empty; the filter must still apply (not widen)
    assert p.search("gen_write", {})["hits"].count() == 0
    raw = p.meta.read("aliases")["gen_write"]
    assert isinstance(raw, dict) and raw["filter"] == {
        "term": {"pk": "DEN"}}
    assert scoped_before == want

    # (3) column-aware envelope sniff: an index with a real column
    # named `source` stays updatable through the bare column map
    src = p.index_view("fare").limit(3).withColumn(
        "source", F.lit("orig"))
    src.write.parquet(str(tmp / "i" / "srccol"))
    n = p.update_by_query("srccol", {"match_all": {}},
                          {"source": "'promo'"})
    assert n == 3
    vals = {r["source"] for r in
            p.index_view("srccol").select("source").collect()}
    assert vals == {"promo"}


def test_total_hits_respects_min_score(spark):
    from opensearch_dynamodb_etl_cdk_spark.operators.search import (
        execute_search,
    )

    df = spark.createDataFrame(
        [("1", 1.0), ("2", 5.0), ("3", 9.0)], "_id string, feat double")
    res = execute_search(df, {
        "query": {"function_score": {
            "query": {"match_all": {}},
            "functions": [{"field_value_factor": {"field": "feat"}}],
        }},
        "min_score": 4.0,
        "track_total_hits": True,
        "size": 1,
    })
    assert res["hits"].count() == 1
    # total excludes min_score-dropped docs (collection-phase filter)
    assert res["total"] == {"value": 2, "relation": "eq"}


def test_async_search_lifecycle(spark, tmp_path_factory):
    import time

    tmp = tmp_path_factory.mktemp("async")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    body = {"query": {"term": {"pk": "DEN"}},
            "aggs": {"n": {"value_count": {"field": "_id"}}}}
    aid = p.submit_async_search("fare", body)
    deadline = time.time() + 120
    while time.time() < deadline:
        st = p.get_async_search(aid)
        if st["state"] != "RUNNING":
            break
        time.sleep(0.5)
    assert st["state"] == "SUCCEEDED", st
    sync = p.search("fare", body)
    want = sync["hits"].count()
    assert st["n_hits"] == want
    assert st["hits"].count() == want
    assert st["aggregations"]["n"]["value"] == want
    # results persist until deleted (keep_on_completion)
    again = p.get_async_search(aid)
    assert again["state"] == "SUCCEEDED" and again["hits"].count() == want
    assert p.delete_async_search(aid)
    assert not p.delete_async_search(aid)
    with pytest.raises(ValueError, match="no such async search"):
        p.get_async_search(aid)

    # a bad body surfaces as FAILED, not a lost thread
    bad = p.submit_async_search("fare", {"query": {"nope": {}}})
    deadline = time.time() + 60
    while time.time() < deadline:
        st = p.get_async_search(bad)
        if st["state"] != "RUNNING":
            break
        time.sleep(0.5)
    assert st["state"] == "FAILED" and "nope" in st["error"]


def test_sql_show_and_describe(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("sqlmeta")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    tables = {r["tableName"] for r in p.sql("SHOW TABLES").collect()}
    assert {"fare", "flight"} <= tables
    cols = {r["col_name"] for r in p.sql("DESCRIBE fare").collect()}
    assert {"pk", "sk", "fare_class"} <= cols
    with pytest.raises(ValueError, match="sql"):
        p.sql("DROP TABLE fare")


def test_restore_with_rename(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("snaprename")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    snap = str(tmp / "snap")
    p.snapshot(snap, "fare")
    before = p.index_view("fare").count()

    # mutate the live index, then clone the snapshot BESIDE it
    assert p.delete_by_query("fare", {"term": {"pk": "DEN"}}) >= 1
    restored = p.restore(snap, "fare", rename_pattern="^fare$",
                         rename_replacement="fare_restored")
    assert restored == ["fare_restored"]
    assert p.index_view("fare_restored").count() == before
    # the live index keeps its post-snapshot state (not clobbered)
    assert p.index_view("fare").count() < before
    with pytest.raises(ValueError, match="rename_replacement"):
        p.restore(snap, "fare", rename_pattern="^fare$")
    # renaming onto an alias name refuses
    p.put_alias("fare_alias", "fare")
    with pytest.raises(ValueError, match="collides with an alias"):
        p.restore(snap, "fare", rename_pattern="^fare$",
                  rename_replacement="fare_alias")
    # renaming onto an EXISTING live index refuses too (the public API
    # errors when a restore target index exists — a renamed restore
    # recovers BESIDE the live index, never over it)
    flight_before = p.index_view("flight").count()
    with pytest.raises(ValueError, match="existing index"):
        p.restore(snap, "fare", rename_pattern="^fare$",
                  rename_replacement="flight")
    assert p.index_view("flight").count() == flight_before  # untouched
    with pytest.raises(ValueError, match="existing index"):
        p.restore(snap, "fare", rename_pattern="^fare$",
                  rename_replacement="fare_restored")


def test_field_masking_policies(spark, tmp_path_factory):
    """Per-index field masking (the reference's data-access-policy
    analog at the field level): masked values unreadable through
    search/mget/sql — including the convenience SQL view — filters on
    original values blind, aggs/termvectors rejected, stored data
    untouched."""
    import hashlib

    tmp = tmp_path_factory.mktemp("fieldmask")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    originals = {r["fare_class"]
                 for r in p.index_view("fare").select("fare_class").collect()}

    p.put_field_masking("fare", ["fare_class"], mode="hash", salt="s1")
    # search: every surfaced value is the salted SHA-256 of the original
    hits = p.search("fare", {"query": {"match_all": {}}})["hits"]
    got = {r["fare_class"] for r in hits.select("fare_class").collect()}
    expected = {hashlib.sha256(("s1" + v).encode()).hexdigest()
                for v in originals if v is not None}
    assert got - {None} == expected
    assert not (got & originals)
    # filtering on an original value cannot match (masked BEFORE query
    # evaluation — no probe channel); filtering on the hash does
    some = next(iter(v for v in originals if v is not None))
    assert p.count("fare", {"term": {"fare_class": some}}) == 0
    h = hashlib.sha256(("s1" + some).encode()).hexdigest()
    assert p.count("fare", {"term": {"fare_class": h}}) >= 1
    # mget/get_doc masked too
    any_id = hits.select("_id").first()["_id"]
    assert p.get_doc("fare", any_id)["fare_class"] not in originals
    # sql: both the index view and the convenience view are masked
    assert {r["fare_class"] for r in
            p.sql("SELECT fare_class FROM fare").collect()} - {None} \
        == expected
    assert {r["fare_class"] for r in
            p.sql("SELECT fare_class FROM fare_index").collect()} - {None} \
        == expected
    # aggregations and termvectors naming the masked field are rejected
    with pytest.raises(ValueError, match="masked"):
        p.search("fare", {"aggs": {"by": {"terms": {"field": "fare_class"}}}})
    with pytest.raises(ValueError, match="masked"):
        p.search("f*", {"aggs": {"s": {"terms": {"field": "pk"}, "aggs": {
            "x": {"cardinality": {"field": "fare_class"}}}}}})
    with pytest.raises(ValueError, match="masked"):
        p.termvectors("fare", any_id, ["fare_class"])
    # unmasked fields keep aggregating
    assert p.search("fare", {"aggs": {
        "by": {"terms": {"field": "pk"}}}})["aggregations"]["by"]
    # reindex reads the MASKED view (no copy-out bypass)
    p.reindex("fare", "fare_copy")
    copied = {r["fare_class"] for r in
              p.index_view("fare_copy").select("fare_class").collect()}
    assert not (copied & originals)
    # write-by-query and scripted bulk are rejected on a masked index
    # (they read unmasked values: a match count probes originals, a
    # script can copy a masked column out) — the public DLS/FLS
    # limitation; plain by-id writes stay allowed
    with pytest.raises(ValueError, match="field-masking policy"):
        p.delete_by_query("fare", {"term": {"fare_class": some}})
    with pytest.raises(ValueError, match="field-masking policy"):
        p.update_by_query("fare", {"term": {"pk": "DEN"}},
                          {"pk": "fare_class"})
    with pytest.raises(ValueError, match="field-masking policy"):
        p.bulk("fare", [{"update": {"_id": any_id,
                                    "script": {"pk": "fare_class"}}}])
    # plain by-id bulk UPDATE merges against the RAW stored image —
    # preserved fields must stay original, never the masked hash
    upd_id = hits.filter(F.col("_id") != any_id).select("_id").first()["_id"]
    p.bulk("fare", [{"update": {"_id": upd_id, "doc": {"sk": "patched"}}}])
    stored = p.index_view("fare").filter(F.col("_id") == upd_id).first()
    assert stored["fare_class"] in originals  # storage uncorrupted
    p.bulk("fare", [{"delete": {"_id": any_id}}])  # by-id write: fine
    assert p.get_doc("fare", any_id) is None
    # a policy on an index created OUTSIDE the configured routes masks
    # its SQL convenience view too (registered masked in index_view)
    p.put_field_masking("fare_copy", ["origin"], mode="redact")
    p.search("fare_copy", {"size": 1})  # re-registers the view
    got_o = {r["origin"] for r in
             p.sql("SELECT origin FROM fare_copy_index").collect()}
    assert got_o - {None} == {"<masked>"}
    # redact mode + policy validation
    p.put_field_masking("fare", ["fare_class"], mode="redact")
    hits = p.search("fare", {"query": {"match_all": {}}})["hits"]
    assert {r["fare_class"] for r in hits.collect()} - {None} == {"<masked>"}
    with pytest.raises(ValueError, match="mode"):
        p.put_field_masking("fare", ["pk"], mode="rot13")
    with pytest.raises(ValueError, match="internal"):
        p.put_field_masking("fare", ["_id"])
    with pytest.raises(ValueError, match="field list"):
        p.put_field_masking("fare", [])
    # fail-closed policy validation: typo'd fields and missing indexes
    # are errors, never silently-unprotecting policies
    with pytest.raises(ValueError, match="unknown fields"):
        p.put_field_masking("fare", ["fare_clas"])
    with pytest.raises(ValueError, match="no such index"):
        p.put_field_masking("nonexistent", ["pk"])
    # deleting the policy restores originals — storage was never touched
    p.delete_field_masking("fare")
    hits = p.search("fare", {"query": {"match_all": {}}})["hits"]
    assert {r["fare_class"] for r in hits.collect()} == originals


def test_monitors_and_alerts(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("monitors")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    den = p.index_view("fare").filter(F.col("pk") == "DEN").count()
    p.put_monitor("den_watch", {
        "search": {"index": "fare",
                   "body": {"query": {"term": {"pk": "DEN"}}}},
        "trigger": {"count": {"gt": den - 1}},
    })
    p.put_monitor("agg_watch", {
        "search": {"index": "fare", "body": {
            "size": 0,
            "aggs": {"n": {"value_count": {"field": "_id"}}}}},
        "trigger": {"agg_path": "n", "gte": 10_000},  # never fires
    })
    p.put_monitor("off", {
        "search": {"index": "fare", "body": {}},
        "trigger": {"count": {"gt": 0}}, "enabled": False,
    })
    fired = p.monitor_tick(now="2026-08-15T00:00:00Z")
    assert [f["monitor"] for f in fired] == ["den_watch"]
    assert fired[0]["value"] == den
    alerts = p.get_alerts()
    assert alerts.count() == 1
    # the trigger clears after the docs go away; no new alert appends
    p.delete_by_query("fare", {"term": {"pk": "DEN"}})
    assert p.monitor_tick(now="2026-08-15T01:00:00Z") == []
    assert p.get_alerts().count() == 1
    assert p.delete_monitor("den_watch")
    assert not p.delete_monitor("den_watch")
    with pytest.raises(ValueError, match="monitor needs search"):
        p.put_monitor("bad", {"trigger": {"count": {"gt": 0}}})
    with pytest.raises(Exception):
        p.put_monitor("badq", {
            "search": {"index": "fare",
                       "body": {"query": {"nope": {}}}},
            "trigger": {"count": {"gt": 0}}})


def test_open_close_index(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("openclose")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    p.close_index("fare")
    # literal addressing errors; wildcards skip the closed index
    with pytest.raises(PermissionError, match="closed"):
        p.search("fare", {})
    res = p.search("f*", {})
    assert {r["_index"] for r in
            res["hits"].select("_index").distinct().collect()} == {"flight"}
    with pytest.raises(PermissionError):  # writes refuse too
        p.bulk("fare", [{"delete": {"_id": "x"}}])
    # open restores everything, data intact
    p.open_index("fare")
    assert p.search("fare", {})["hits"].count() == 22
    assert p.delete_by_query("fare", {"term": {"pk": "DEN"}}) >= 1


def test_snapshot_carries_all_registries(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("snapregs")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    p.put_script("s1", {"script": {"source": "pk = 'DEN'"}})
    p.put_index_template("t1", {"index_patterns": ["x*"],
                                "template": {"settings": {
                                    "number_of_buckets": 3}}})
    p.put_monitor("m1", {
        "search": {"index": "fare", "body": {}},
        "trigger": {"count": {"gt": 0}}})
    snap = str(tmp / "snap")
    p.snapshot(snap)

    # wipe the live registries, then restore brings them all back
    p.delete_script("s1")
    p.delete_index_template("t1")
    p.delete_monitor("m1")
    p.restore(snap)
    assert p.get_script("s1")["source"] == "pk = 'DEN'"
    assert p.get_index_template("t1")["index_patterns"] == ["x*"]
    assert "m1" in p.meta.read("monitors")


def test_sql_explain_head(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("sqlexplain")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    rows = p.sql(
        "EXPLAIN SELECT pk FROM fare WHERE pk = 'DEN'").collect()
    assert rows and "Physical Plan" in rows[0][0]
    with pytest.raises(ValueError, match="EXPLAIN accepts"):
        p.sql("EXPLAIN DROP TABLE fare")


def test_review_r6c_regressions(spark, tmp_path_factory):
    """Second review batch: closed-index read surfaces, open/close vs
    independent blocks, monitor size-cap and isolation, async empty
    hits, plain-restore alias non-collision, EXPLAIN gate."""
    import time

    tmp = tmp_path_factory.mktemp("r6c")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    # closed index refuses EVERY read surface, not just search
    p.close_index("fare")
    with pytest.raises(PermissionError, match="closed"):
        p.mget("fare", ["x"])
    with pytest.raises(PermissionError, match="closed"):
        p.get_doc("fare", "x")
    assert "fare" not in {
        r["tableName"] for r in p.sql("SHOW TABLES").collect()}
    # an independently-set write block SURVIVES close+open
    p.open_index("fare")
    p.add_block("fare", "write")
    p.close_index("fare")
    p.open_index("fare")
    with pytest.raises(PermissionError, match="write-blocked"):
        p.bulk("fare", [{"delete": {"_id": "x"}}])
    p.remove_block("fare", "write")

    # monitor count trigger ignores the body's size cap; a bad monitor
    # isolates instead of aborting the tick
    p.put_monitor("capped", {
        "search": {"index": "fare",
                   "body": {"size": 0, "query": {"term": {"pk": "DEN"}}}},
        "trigger": {"count": {"gt": 0}}})
    p.put_monitor("broken", {
        "search": {"index": "fare", "body": {
            "size": 0, "aggs": {"n": {"value_count": {"field": "_id"}}}}},
        "trigger": {"agg_path": "missing_agg", "gt": 0}})
    out = p.monitor_tick(now="2026-08-15T02:00:00Z")
    by_name = {o["monitor"]: o for o in out}
    assert "capped" in by_name and by_name["capped"]["value"] > 0
    assert "error" in by_name["broken"]
    assert p.get_alerts().count() == 1  # only the real firing persisted

    # async search with zero hits still attaches an (empty) frame
    aid = p.submit_async_search("fare", {"query": {"term": {
        "pk": "NO_SUCH_AIRPORT"}}})
    deadline = time.time() + 120
    while time.time() < deadline:
        st = p.get_async_search(aid)
        if st["state"] != "RUNNING":
            break
        time.sleep(0.5)
    assert st["state"] == "SUCCEEDED" and st["hits"].count() == 0

    # plain restore succeeds even when a live alias shadows a
    # snapshotted index name (the registry is replaced wholesale)
    snap = str(tmp / "snap")
    p.snapshot(snap, "fare")
    p.delete_alias("shadow") if "shadow" in p.get_aliases() else None
    p.put_alias("shadow", "flight")
    import os as _os
    _os.rename(_os.path.join(snap, "fare"),
               _os.path.join(snap, "shadow"))
    restored = p.restore(snap, "shadow")
    assert restored == ["shadow"] or "shadow" in restored

    # EXPLAIN modifier keywords cannot smuggle a write statement
    with pytest.raises(ValueError, match="EXPLAIN accepts"):
        p.sql("EXPLAIN FORMATTED DROP TABLE flight")
    with pytest.raises(ValueError, match="EXPLAIN accepts"):
        p.sql("EXPLAIN")


def test_role_based_index_permissions(spark, tmp_path_factory):
    """Index-level permission model (the reference's data-access-policy
    analog): roles grant read/write on index patterns; as_role scopes
    calls centrally through index_view (reads) and _check_write_block
    (writes). No active role = the admin caller, unchanged behavior."""
    tmp = tmp_path_factory.mktemp("roles")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)

    p.put_role("fare_analyst", ["fare"], actions=("read",))
    p.put_role("fare_writer", ["fare*"], actions=("read", "write"))

    # read scoping: allowed index works, literal disallowed raises,
    # wildcards silently skip disallowed (the security plugin rule)
    with p.as_role("fare_analyst"):
        assert p.search("fare", {"size": 1})["hits"] is not None
        assert p.count("fare", {"match_all": {}}) == 22
        with pytest.raises(PermissionError, match="no 'read'"):
            p.search("flight", {"size": 1})
        with pytest.raises(PermissionError):
            p.mget("flight", ["x"])
        assert p.count("f*", {"match_all": {}}) == 22  # flight skipped
        # write denied for a read-only role
        with pytest.raises(PermissionError, match="no 'write'"):
            p.bulk("fare", [{"delete": {"_id": "nope"}}])
        with pytest.raises(PermissionError, match="no 'write'"):
            p.delete_by_query("fare", {"match_all": {}})
        # sql: only permitted tables register; flight is unavailable
        assert p.sql("SELECT COUNT(*) AS n FROM fare").collect()[0]["n"] == 22
        with pytest.raises(Exception, match="flight"):
            p.sql("SELECT COUNT(*) AS n FROM flight").collect()
    # scope exits cleanly: admin again
    assert p.count("flight", {"match_all": {}}) == 13

    # WRITE-ONLY role: by-id bulk ingest works without a read grant
    # (the internal current-image fetch is a system read, the public
    # plugin's write-permission behavior) — but reading still denies
    p.put_role("ingest_only", ["fare"], actions=("write",))
    with p.as_role("ingest_only"):
        p.bulk("fare", [{"index": {"_id": "W|1", "doc": {"pk": "W"}}},
                        {"update": {"_id": "W|1", "doc": {"sk": "s1"}}},
                        {"delete": {"_id": "W|1"}}])
        with pytest.raises(PermissionError, match="no 'read'"):
            p.search("fare", {"size": 1})
        # query-matched writes need read AND write (public behavior)
        with pytest.raises(PermissionError, match="no 'read'"):
            p.delete_by_query("fare", {"match_all": {}})
    assert p.count("fare", {"term": {"pk": "W"}}) == 0  # deleted again

    # write role: bulk works on the granted pattern, not outside it
    with p.as_role("fare_writer"):
        p.bulk("fare", [{"index": {"_id": "Z|Z", "doc": {"pk": "Z"}}}])
        assert p.count("fare", {"term": {"pk": "Z"}}) == 1
        with pytest.raises(PermissionError):
            p.bulk("flight", [{"delete": {"_id": "x"}}])
        # reindex: source read + dest write both inside the grant
        p.reindex("fare", "fare_backup")
        with pytest.raises(PermissionError):
            p.reindex("fare", "elsewhere")  # dest outside the pattern

    # validation + CRUD + unknown role
    with pytest.raises(ValueError, match="unknown role"):
        p.as_role("nobody")
    with pytest.raises(ValueError, match="actions"):
        p.put_role("bad", ["x"], actions=("admin",))
    with pytest.raises(ValueError, match="index_patterns"):
        p.put_role("bad", [])
    assert set(p.get_roles()) == {"fare_analyst", "fare_writer",
                                  "ingest_only"}
    p.delete_role("fare_analyst")
    p.delete_role("ingest_only")
    assert set(p.get_roles()) == {"fare_writer"}

    # roles registry rides snapshots like the other cluster state
    snap = str(tmp / "snap")
    p.snapshot(snap)
    p.delete_role("fare_writer")
    assert p.get_roles() == {}
    p.restore(snap)
    assert set(p.get_roles()) == {"fare_writer"}


def test_role_scope_is_context_isolated_across_threads(
    spark, tmp_path_factory
):
    """as_role scopes live in a ContextVar keyed by pipeline identity:
    a concurrent thread sharing the pipeline neither inherits, sees,
    nor clobbers another caller's role — one scope exiting cannot
    escalate or demote the other (previously plain instance attributes:
    the last scope to exit restored ITS snapshot for everyone)."""
    import threading

    tmp = tmp_path_factory.mktemp("rolectx")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    p.put_role("fare_only", ["fare"], actions=("read",))
    p.put_role("flight_only", ["flight"], actions=("read",))

    seen = {}
    entered = threading.Event()
    release = threading.Event()

    def other():
        # a fresh thread starts with NO inherited role (admin caller)
        seen["before"] = p._active_role
        with p.as_role("flight_only"):
            seen["inside"] = p._active_role
            entered.set()
            release.wait(10)
        seen["after"] = p._active_role

    with p.as_role("fare_only"):
        t = threading.Thread(target=other)
        t.start()
        assert entered.wait(10)
        # the other thread's active scope is invisible here: our role
        # stays fare_only and flight stays denied (no escalation via
        # the other caller's broader scope)
        assert p._active_role == "fare_only"
        with pytest.raises(PermissionError, match="no 'read'"):
            p.search("flight", {"size": 1})
        release.set()
        t.join(10)
        # the other scope EXITING didn't demote/clear ours either
        assert p._active_role == "fare_only"
        assert p.search("fare", {"size": 1})["hits"] is not None
    assert p._active_role is None  # our exit restores the admin caller
    assert seen == {"before": None, "inside": "flight_only",
                    "after": None}


def test_masked_agg_rejection_runs_on_resolved_body(
    spark, tmp_path_factory, monkeypatch
):
    """The masked-field aggregation rejection inspects the FINAL body —
    after terms-lookup / stored-script resolution and search-pipeline
    attachment — so an agg spec introduced by a resolution step cannot
    bypass it and return hash buckets of a masked field."""
    tmp = tmp_path_factory.mktemp("maskorder")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    p.put_field_masking("fare", ["fare_class"], mode="hash", salt="s")

    # simulate a resolution step (stored template / script expansion)
    # that introduces an agg on the masked field AFTER the raw body
    # was built — the rejection must still fire
    orig = FlightsEtlPipeline._resolve_refs

    def inject(self, body):
        body = dict(orig(self, body))
        body["aggs"] = {"by": {"terms": {"field": "fare_class"}}}
        return body

    monkeypatch.setattr(
        FlightsEtlPipeline, "_resolve_refs", inject)
    with pytest.raises(ValueError, match="masked"):
        p.search("fare", {"query": {"match_all": {}}})
    monkeypatch.undo()
    # and the plain-body rejection still fires too (no regression)
    with pytest.raises(ValueError, match="masked"):
        p.search("fare", {"aggs": {
            "by": {"terms": {"field": "fare_class"}}}})


def test_role_bound_document_level_security(spark, tmp_path_factory):
    """Role-bound DLS (the public role `dls` property; reference
    analog: the stack's data-access policies scoping who reads what):
    a role carries a per-index DSL query filter, composed centrally in
    index_view — the same search returns different hits under
    different roles; counts, aggs, mget, and sql respect the slice;
    query-matched writes are rejected (the public limitation); by-id
    writes still work."""
    tmp = tmp_path_factory.mktemp("dls")
    cfg = PipelineConfig(index_root=str(tmp / "i"),
                         checkpoint_root=str(tmp / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    total = p.count("fare", {"match_all": {}})
    den_total = p.count("fare", {"term": {"pk": "DEN"}})
    assert total == 22 and 0 < den_total < total

    p.put_role("den_desk", ["fare"], actions=("read", "write"),
               dls={"term": {"pk": "DEN"}})
    p.put_role("all_desk", ["fare"], actions=("read",))

    body = {"query": {"match_all": {}},
            "aggs": {"by_pk": {"terms": {"field": "pk"}}}}
    out_id = p.index_view("fare").filter(
        F.col("pk") == "JFK").select("_id").first()["_id"]
    with p.as_role("den_desk"):
        res = p.search("fare", body)
        hits = res["hits"].collect()
        assert len(hits) == den_total  # only the slice is visible
        assert {r["pk"] for r in hits} == {"DEN"}
        # aggregations bucket ONLY the visible slice
        buckets = res["aggregations"]["by_pk"]["buckets"]
        assert {b["key"] for b in buckets} == {"DEN"}
        assert sum(b["doc_count"] for b in buckets) == den_total
        # counts respect the filter — probing outside returns 0, not
        # a count of invisible documents
        assert p.count("fare", {"match_all": {}}) == den_total
        assert p.count("fare", {"term": {"pk": "JFK"}}) == 0
        # mget: an out-of-slice id is simply not found
        assert p.mget("fare", [out_id]).count() == 0
        # sql sees the slice too (views re-register per call)
        got = p.sql("SELECT DISTINCT pk FROM fare").collect()
        assert {r["pk"] for r in got} == {"DEN"}
        # query-matched writes rejected under DLS (public limitation)
        with pytest.raises(PermissionError, match="DLS"):
            p.delete_by_query("fare", {"term": {"pk": "DEN"}})
        with pytest.raises(PermissionError, match="DLS"):
            p.update_by_query("fare", {"term": {"pk": "DEN"}},
                              {"dest": "'X'"})
        with pytest.raises(PermissionError, match="DLS"):
            p.bulk("fare", [{"update": {"_id": "DEN|x",
                                        "script": {"dest": "origin"}}}])
        # reindex INTO a DLS-scoped index is the same query-matched
        # scripted write channel — a set_fields rewrite of the
        # filtered column would move documents across the slice
        with pytest.raises(PermissionError, match="DLS"):
            p.reindex("fare", "fare", set_fields={"pk": "'JFK'"})
        # by-id writes stay allowed (don't read across the boundary)
        p.bulk("fare", [{"index": {"_id": "DEN|dls-probe",
                                   "doc": {"pk": "DEN",
                                           "sk": "dls-probe"}}}])
        assert p.count("fare", {"term": {"sk": "dls-probe"}}) == 1
        p.bulk("fare", [{"delete": {"_id": "DEN|dls-probe"}}])

    # the SAME search under the unfiltered role: everything
    with p.as_role("all_desk"):
        assert p.search("fare", body)["hits"].count() == total
        assert p.count("fare", {"term": {"pk": "JFK"}}) > 0
    # and the admin caller (no role) is untouched
    assert p.count("fare", {"match_all": {}}) == total

    # the DLS predicate PUSHES into the scan (a filter, not a re-pass)
    with p.as_role("den_desk"):
        plan = p.index_view("fare")._jdf.queryExecution().executedPlan()
        assert "pk" in plan.toString()

    # fail-closed validation: a non-dict or uncompilable dls rejects
    # at role creation, never at first read
    with pytest.raises(ValueError, match="dls"):
        p.put_role("bad", ["fare"], dls=[])
    with pytest.raises(Exception):
        p.put_role("bad", ["fare"], dls={"frobnicate": {"x": 1}})
    assert "bad" not in p.get_roles()


def test_date_histogram_skips_docs_missing_the_field(booted):
    """Fare docs carry no ``depart_ts``: over ``fare,flight`` they fall
    in no bucket (OpenSearch skips docs missing the field), while an
    explicit ``missing`` still buckets them under that value."""
    def buckets(body):
        res = booted.search("fare,flight", {"size": 0, "aggs": {"d": {
            "date_histogram": {"field": "depart_ts",
                               "calendar_interval": "day", **body}}}})
        return res["aggregations"]["d"]["buckets"]

    got = buckets({})
    assert got and all(b["key"] is not None for b in got)
    n_flights = booted.count("flight", {"exists": {"field": "depart_ts"}})
    assert sum(b["doc_count"] for b in got) == n_flights
    filled = buckets({"missing": "2000-01-01T00:00:00"})
    assert [b["doc_count"] for b in filled if b["key"].year == 2000] == [
        booted.count("fare,flight") - n_flights]

    hist = booted.search("fare,flight", {"size": 0, "aggs": {"h": {
        "histogram": {"field": "seg_id", "interval": 1}}}})["aggregations"]
    assert all(b["key"] is not None for b in hist["h"]["buckets"])
