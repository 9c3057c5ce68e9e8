"""Parse stage: span-sequence invariant, outlink pipeline, OPIC
(FIXTURES.md §E; reference ParseOutputFormat.java:229-308)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nutch_spark.constants import (
    Defaults,
    STATUS_FETCH_REDIR_PERM,
    STATUS_FETCH_SUCCESS,
    STATUS_LINKED,
    STATUS_SIGNATURE,
)
from nutch_spark.operators.fetch import fetch
from nutch_spark.operators.generate import generate
from nutch_spark.operators.inject import inject
from nutch_spark.operators.parse import parse
from nutch_spark.schema import FETCH_RESULTS
from nutch_spark.synth import WebConfig, page_spans, page_url, robots_rows, seeds_df

T0 = 1_700_000_000_000


def fetch_result_row(url, spans, status=STATUS_FETCH_SUCCESS, score=1.0, redirect_to=None):
    return Row(
        url=url,
        url_hash=hash(url) % (2**31),
        host=url.split("/")[2],
        status=status,
        prev_status=1,
        fetch_time=T0,
        retries=0,
        fetch_interval=Defaults.FETCH_INTERVAL,
        score=float(score),
        prev_signature=None,
        prev_modified_time=0,
        redirect_to=redirect_to,
        protocol_status="success",
        spans=spans,
        metadata={},
        segment="s",
    )


def spans_of(*items):
    """items: ('text', 'some text') | ('media', 'http://...')"""
    out = []
    for off, (kind, val) in enumerate(items):
        if kind == "text":
            out.append(Row(kind="text", text=val, media_ref=None, offset=off))
        else:
            out.append(Row(kind="media", text=None, media_ref=val, offset=off))
    return out


def test_span_sequence_invariant_synthetic_web(spark):
    """Full-pipeline invariant: parse output's spans == fetched spans ==
    the deterministic synth spans, ordered (the north-rule per-row
    invariant)."""
    cfg = WebConfig(n_hosts=3, pages_per_host=5, zipf=False, gone_frac=0, redir_frac=0)
    robots = {r["host"]: r for r in robots_rows(cfg)}
    fr = inject(spark, None, seeds_df(spark, cfg), T0)
    fl = generate(fr, T0, "seg", top_n=100)
    res = fetch(fl, robots, cfg, T0)
    pd_, _ = parse(res)
    rows = pd_.collect()
    assert rows
    for r in rows:
        expected = page_spans(cfg, r.url)
        got = [
            {"kind": s.kind, "text": s.text, "media_ref": s.media_ref, "offset": s.offset}
            for s in r.spans
        ]
        assert got == expected, r.url


def test_outlinks_in_document_order(spark):
    spans = spans_of(
        ("text", "intro href:http://h.example.com/1"),
        ("media", "http://h.example.com/2"),
        ("text", "more href:http://h.example.com/3"),
    )
    df = spark.createDataFrame([fetch_result_row("http://h.example.com/p", spans)], FETCH_RESULTS)
    pd_, _ = parse(df)
    out = pd_.collect()[0]
    assert [o.to_url for o in out.outlinks] == [
        "http://h.example.com/1",
        "http://h.example.com/2",
        "http://h.example.com/3",
    ]
    assert [o.link_order for o in out.outlinks] == [1, 2, 3]


def test_self_links_dropped_and_deduped(spark):
    u = "http://h.example.com/p"
    spans = spans_of(
        ("media", u),  # self link
        ("media", "http://h.example.com/a"),
        ("media", "http://h.example.com/a"),  # dup
        ("media", "http://h.example.com/b"),
    )
    df = spark.createDataFrame([fetch_result_row(u, spans)], FETCH_RESULTS)
    pd_, _ = parse(df)
    out = pd_.collect()[0]
    assert [o.to_url for o in out.outlinks] == [
        "http://h.example.com/a",
        "http://h.example.com/b",
    ]


def test_outlink_cap(spark):
    spans = spans_of(*[("media", f"http://h.example.com/{i}") for i in range(150)])
    df = spark.createDataFrame([fetch_result_row("http://h.example.com/p", spans)], FETCH_RESULTS)
    pd_, cp = parse(df)
    assert len(pd_.collect()[0].outlinks) == Defaults.MAX_OUTLINKS_PER_PAGE
    assert cp.filter(F.col("status") == STATUS_LINKED).count() == Defaults.MAX_OUTLINKS_PER_PAGE


def test_ignore_external_by_host(spark):
    spans = spans_of(
        ("media", "http://h.example.com/in"),
        ("media", "http://other.example.com/out"),
    )
    df = spark.createDataFrame([fetch_result_row("http://h.example.com/p", spans)], FETCH_RESULTS)
    pd_, _ = parse(df, ignore_external=True)
    assert [o.to_url for o in pd_.collect()[0].outlinks] == ["http://h.example.com/in"]


def test_opic_distribution(spark):
    """Each kept outlink receives score/validCount (OPICScoringFilter
    .java:122-165)."""
    spans = spans_of(
        ("media", "http://h.example.com/a"),
        ("media", "http://h.example.com/b"),
        ("media", "http://x.example.com/c"),
    )
    df = spark.createDataFrame(
        [fetch_result_row("http://h.example.com/p", spans, score=6.0)], FETCH_RESULTS
    )
    _, cp = parse(df)
    linked = {r.url: r.score for r in cp.filter(F.col("status") == STATUS_LINKED).collect()}
    assert linked == {
        "http://h.example.com/a": pytest.approx(2.0),
        "http://h.example.com/b": pytest.approx(2.0),
        "http://x.example.com/c": pytest.approx(2.0),
    }


def test_signature_datum_per_page_and_dup_collision(spark):
    s1 = spans_of(("text", "same words here"))
    s2 = spans_of(("text", "same words here"))
    s3 = spans_of(("text", "different words"))
    df = spark.createDataFrame(
        [
            fetch_result_row("http://a.example.com/1", s1),
            fetch_result_row("http://b.example.com/2", s2),
            fetch_result_row("http://c.example.com/3", s3),
        ],
        FETCH_RESULTS,
    )
    _, cp = parse(df)
    sigs = {r.url: r.signature for r in cp.filter(F.col("status") == STATUS_SIGNATURE).collect()}
    assert len(sigs) == 3
    assert sigs["http://a.example.com/1"] == sigs["http://b.example.com/2"]
    assert sigs["http://a.example.com/1"] != sigs["http://c.example.com/3"]


def test_unfollowed_redirect_emits_linked_datum(spark):
    df = spark.createDataFrame(
        [
            fetch_result_row(
                "http://h.example.com/p",
                None,
                status=STATUS_FETCH_REDIR_PERM,
                redirect_to="http://h.example.com/target",
            )
        ],
        FETCH_RESULTS,
    )
    pd_, cp = parse(df)
    assert pd_.count() == 0  # only successes are parsed
    linked = cp.filter(F.col("status") == STATUS_LINKED).collect()
    assert len(linked) == 1
    assert linked[0].url == "http://h.example.com/target"
    assert linked[0].from_url == "http://h.example.com/p"


def test_text_excludes_href_tokens(spark):
    spans = spans_of(("text", "hello href:http://h.example.com/x world"))
    df = spark.createDataFrame([fetch_result_row("http://h.example.com/p", spans)], FETCH_RESULTS)
    pd_ = parse(df)[0].collect()[0]
    assert "href:" not in pd_.text
    assert "hello" in pd_.text and "world" in pd_.text


def test_ignore_external_by_domain_fast_path(spark):
    """Regression (round-2 ADVICE): the byDomain predicate used a pandas
    UDF inside an array lambda, which Spark rejects at plan time
    (UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF). Sibling host
    in the same registered domain is kept; foreign domain dropped."""
    spans = spans_of(
        ("media", "http://b.site.com/in"),
        ("media", "http://other.net/out"),
    )
    df = spark.createDataFrame(
        [fetch_result_row("http://a.site.com/p", spans)], FETCH_RESULTS
    )
    pd_, _ = parse(df, ignore_external=True, external_mode="byDomain")
    assert [o.to_url for o in pd_.collect()[0].outlinks] == [
        "http://b.site.com/in"
    ]


def test_ignore_external_by_domain_slow_path(spark):
    """Same mode through the explode path (non-canonical link forces it)."""
    spans = spans_of(
        ("media", "http://b.site.com/in/../x"),
        ("media", "http://other.net/out"),
    )
    df = spark.createDataFrame(
        [fetch_result_row("http://a.site.com/p", spans)], FETCH_RESULTS
    )
    pd_, _ = parse(df, ignore_external=True, external_mode="byDomain")
    assert [o.to_url for o in pd_.collect()[0].outlinks] == [
        "http://b.site.com/x"
    ]


def test_null_outlink_element_page_survives(spark):
    """Regression (round-2 ADVICE): a NULL raw outlink (media span with
    null media_ref) made the canonical predicate NULL and the page
    vanished from parse_data — including its signature datum."""
    from pyspark.sql import Row as R

    spans = [
        R(kind="media", text=None, media_ref=None, offset=0),
        R(kind="media", text=None, media_ref="http://h.example.com/a", offset=1),
    ]
    df = spark.createDataFrame(
        [fetch_result_row("http://h.example.com/p", spans)], FETCH_RESULTS
    )
    pd_, cp = parse(df)
    rows = pd_.collect()
    assert len(rows) == 1
    assert [o.to_url for o in rows[0].outlinks] == ["http://h.example.com/a"]
    assert cp.filter(F.col("status") == STATUS_SIGNATURE).count() == 1


def subdoc_span(url, text, off):
    return Row(kind="subdoc", text=text, media_ref=url, offset=off)


def test_subdoc_entries_and_canonical_datum(spark):
    """The fork's multi-entry parse: a subdoc span yields a
    non-canonical parse entry under its sub-URL, and crawl_parse gains
    a fetch_success datum for that key (ParseImpl.java:31-73,
    ParseOutputFormat.java:296-308)."""
    spans = [
        Row(kind="text", text="parent text href:http://h.example.com/x", media_ref=None, offset=0),
        subdoc_span("http://h.example.com/z!/item1",
                    "item one href:http://h.example.com/y", 1),
        subdoc_span("http://h.example.com/z!/item2", "item two", 2),
    ]
    df = spark.createDataFrame(
        [fetch_result_row("http://h.example.com/p", spans)], FETCH_RESULTS
    )
    pd_, cp = parse(df)
    rows = {r.url: r for r in pd_.collect()}
    assert set(rows) == {
        "http://h.example.com/p",
        "http://h.example.com/z!/item1",
        "http://h.example.com/z!/item2",
    }
    parent = rows["http://h.example.com/p"]
    assert parent.is_canonical
    # span invariant: parent's spans carried through untouched (3 spans)
    assert len(parent.spans) == 3
    # parent outlinks: only its own text href, not the subdoc's
    assert [o.to_url for o in parent.outlinks] == ["http://h.example.com/x"]
    sub1 = rows["http://h.example.com/z!/item1"]
    assert not sub1.is_canonical
    assert sub1.text == "item one"
    assert [o.to_url for o in sub1.outlinks] == ["http://h.example.com/y"]
    assert sub1.spans == []
    # canonical-key datums: one fetch_success per sub-entry, parent's time
    canon = {
        r.url: r
        for r in cp.filter(F.col("status") == STATUS_FETCH_SUCCESS).collect()
    }
    assert set(canon) == {
        "http://h.example.com/z!/item1",
        "http://h.example.com/z!/item2",
    }
    assert canon["http://h.example.com/z!/item1"].fetch_time == T0
    assert canon["http://h.example.com/z!/item1"].fetch_interval == 0
    # each entry (canonical + sub) has a signature datum
    assert cp.filter(F.col("status") == STATUS_SIGNATURE).count() == 3


def test_canonical_datum_flows_into_updatedb(spark):
    """The synthesized fetch_success datum makes updatedb record the
    sub-URL as db_fetched with the sub-entry's signature."""
    from nutch_spark.constants import STATUS_DB_FETCHED
    from nutch_spark.operators.updatedb import updatedb

    spans = [
        Row(kind="text", text="parent", media_ref=None, offset=0),
        subdoc_span("http://h.example.com/z!/item1", "item one", 1),
    ]
    df = spark.createDataFrame(
        [fetch_result_row("http://h.example.com/p", spans)], FETCH_RESULTS
    )
    _, cp = parse(df)
    fr = updatedb(spark, None, df, cp, T0)
    got = {r.url: r for r in fr.collect()}
    sub = got["http://h.example.com/z!/item1"]
    assert sub.status == STATUS_DB_FETCHED
    assert sub.signature is not None
    assert sub.fetch_interval == Defaults.FETCH_INTERVAL  # 0 → default
    parent = got["http://h.example.com/p"]
    assert parent.status == STATUS_DB_FETCHED


def test_skip_truncated(spark):
    """ParseSegment.isTruncated (ParseSegment.java:159-192): pages
    whose Content-Length header exceeds the stored content size are
    skipped when parser.skip.truncated is on."""
    from nutch_spark.operators.parse import extract_pages

    spans = spans_of(("text", "tiny"))
    ok = fetch_result_row("http://h.example.com/full", spans)
    trunc = Row(**{**ok.asDict(), "url": "http://h.example.com/cut",
                   "metadata": {"Content-Length": "9999"}})
    declared_ok = Row(**{**ok.asDict(), "url": "http://h.example.com/hdr",
                         "metadata": {"Content-Length": "4"}})
    bad_hdr = Row(**{**ok.asDict(), "url": "http://h.example.com/bad",
                     "metadata": {"Content-Length": "xx"}})
    df = spark.createDataFrame([ok, trunc, declared_ok, bad_hdr], FETCH_RESULTS)
    kept_default = {r.url for r in extract_pages(df).collect()}
    assert len(kept_default) == 4  # off by default
    kept = {r.url for r in extract_pages(df, skip_truncated=True).collect()}
    assert kept == {
        "http://h.example.com/full",
        "http://h.example.com/hdr",
        "http://h.example.com/bad",
    }


@pytest.mark.parametrize("scoped", [False, True])
def test_normalizer_planned_once(spark, scoped):
    """Each with_normalized call plans ONE normalizer evaluation: the
    downstream accept_urls filter on its output must not be pushed
    below it (that re-ran the UDF in every scan task as well as after
    the slow side's repartition), on the outlink slow path and on the
    redirect branch; the rows stay those of the per-row normalizer."""
    from nutch_spark.functions.urlplugins import ScopedNormalizers
    from nutch_spark.functions.urls import normalize_url
    from nutch_spark.operators.parse import (
        crawl_parse_from, extract_pages, finish_pages,
    )

    norm = (
        ScopedNormalizers(chains={"default": [normalize_url]})
        if scoped else None
    )
    udf_name = "_apply(" if scoped else "normalize_urls("
    df = spark.createDataFrame(
        [
            fetch_result_row(
                "http://a.site.com/p",
                spans_of(("media", "http://b.site.com/in/../x"),
                         ("media", "http://b.site.com/y")),
            ),
            fetch_result_row(
                "http://a.site.com/q", None, status=STATUS_FETCH_REDIR_PERM,
                redirect_to="http://a.site.com/./t",
            ),
        ],
        FETCH_RESULTS,
    )

    def n_evals(d):
        plan = d._jdf.queryExecution().sparkPlan().toString()
        return sum(
            1 for ln in plan.splitlines()
            if "ArrowEvalPython" in ln and udf_name in ln.split("],")[0]
        )

    pd_ = finish_pages(extract_pages(df), normalizers=norm)
    assert n_evals(pd_) == 1
    rows = pd_.collect()
    assert [o.to_url for o in rows[0].outlinks] == [
        "http://b.site.com/x", "http://b.site.com/y"
    ]
    cp = crawl_parse_from(pd_.localCheckpoint(), df, normalizers=norm)
    assert n_evals(cp) == 1
    linked = cp.filter(F.col("from_url") == "http://a.site.com/q").collect()
    assert [r.url for r in linked] == ["http://a.site.com/t"]
