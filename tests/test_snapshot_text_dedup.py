"""Frozen paragraph/span dedup snapshots (VERDICT r10 Next #2):
lifecycle pins — incremental-vs-rebuild equivalence (the append ==
rebuild contract), the prior-seen-once span kill, and snapshot-set
additivity under append."""

from __future__ import annotations

from pyspark.sql import functions as F

from magicxml_spark.operators.curation import (
    append_paragraph_snapshot,
    append_span_snapshot,
    c4_span_dedup,
    paragraph_dedup,
    paragraph_dedup_against_snapshot,
    span_dedup_against_snapshot,
    write_paragraph_snapshot,
    write_span_snapshot,
)


def _pdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df):
    return {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_dedup"])
        for r in df.collect()
    }


def _srows(df):
    return {
        r["doc_id"]: (r["n_sentences"], r["n_kept"], r["text_dedup"])
        for r in df.collect()
    }


def test_paragraph_snapshot_incremental_equals_rebuild(spark, tmp_path):
    # prior crawl (ids 0-2), delta crawl (ids 10-12): the incremental
    # result must equal the FULL rebuild restricted to delta docs
    # (prior ids sort first — the documented crawl-order contract)
    prior = _pdocs(
        spark,
        [
            (0, "shared para\n\nalpha only"),
            (1, "beta only\n\nshared para"),
            (2, "gamma only"),
        ],
    )
    delta = _pdocs(
        spark,
        [
            (10, "shared para\n\nnew one\n\ndelta twin"),
            (11, "delta twin\n\nfresh text"),
            (12, "gamma only\n\nnew one"),
        ],
    )
    snap = str(tmp_path / "psnap")
    write_paragraph_snapshot(prior, snap)
    inc = _rows(paragraph_dedup_against_snapshot(delta, snap))

    rebuild = _rows(paragraph_dedup(prior.unionAll(delta), "doc_id", "text"))
    rebuild_delta = {k: v for k, v in rebuild.items() if k >= 10}
    assert inc == rebuild_delta
    # spot semantics: snapshot paras die everywhere, delta-internal
    # first-occurrence wins
    assert inc[10] == (3, 2, "new one\n\ndelta twin")
    assert inc[11] == (2, 1, "fresh text")
    assert inc[12] == (2, 0, "")


def test_paragraph_snapshot_append_extends_the_lifecycle(spark, tmp_path):
    prior = _pdocs(spark, [(0, "p one\n\np two")])
    d1 = _pdocs(spark, [(10, "p two\n\np three")])
    d2 = _pdocs(spark, [(20, "p three\n\np four\n\np one")])
    snap = str(tmp_path / "psnap2")
    write_paragraph_snapshot(prior, snap)
    append_paragraph_snapshot(d1, snap)
    inc2 = _rows(paragraph_dedup_against_snapshot(d2, snap))
    rebuild = _rows(
        paragraph_dedup(prior.unionAll(d1).unionAll(d2), "doc_id", "text")
    )
    assert inc2 == {20: rebuild[20]}
    assert inc2[20] == (3, 1, "p four")
    # append == write-from-scratch as a SET
    scratch = str(tmp_path / "pscratch")
    write_paragraph_snapshot(prior.unionAll(d1), scratch)
    got = {
        r["ph"]
        for r in spark.read.parquet(snap + "/paragraphs").collect()
    }
    want = {
        r["ph"]
        for r in spark.read.parquet(scratch + "/paragraphs").collect()
    }
    assert got == want


def test_span_snapshot_incremental_equals_rebuild(spark, tmp_path):
    # sentences end '. '; spans are 3-sentence windows. Doc 0's run
    # recurs in doc 10 (killed via snapshot); doc 10/11 share a fresh
    # span (batch-internal first-occurrence wins); doc 12 is unique.
    prior = _pdocs(
        spark,
        [
            (0, "A one. A two. A three. A four."),
            (1, "B one. B two."),  # <3 sentences: no spans
        ],
    )
    delta = _pdocs(
        spark,
        [
            (10, "A one. A two. A three. A four."),
            (11, "C one. C two. C three. C four."),
            (12, "C one. C two. C three. D tail."),
            (13, "E solo. E duo."),
        ],
    )
    snap = str(tmp_path / "ssnap")
    write_span_snapshot(prior, snap)
    inc = _srows(span_dedup_against_snapshot(delta, snap))
    rebuild = _srows(c4_span_dedup(prior.unionAll(delta)))
    rebuild_delta = {k: v for k, v in rebuild.items() if k >= 10}
    assert inc == rebuild_delta
    # the prior-seen-ONCE kill: doc 10 loses everything even though
    # the prior crawl had a single occurrence
    assert inc[10][1] == 0
    # fresh span: doc 11 keeps (first in batch), doc 12 loses its copy
    assert inc[11][1] == 4 and inc[12][1] < 4
    assert inc[13] == (2, 2, "E solo. E duo.")


def test_span_snapshot_append_and_compact(spark, tmp_path):
    prior = _pdocs(spark, [(0, "A one. A two. A three.")])
    d1 = _pdocs(spark, [(10, "F one. F two. F three.")])
    d2 = _pdocs(
        spark,
        [(20, "F one. F two. F three."), (21, "A one. A two. A three.")],
    )
    snap = str(tmp_path / "ssnap2")
    write_span_snapshot(prior, snap)
    append_span_snapshot(d1, snap)
    inc = _srows(span_dedup_against_snapshot(d2, snap))
    assert inc[20][1] == 0 and inc[21][1] == 0  # both runs already seen
    # set additivity vs scratch
    scratch = str(tmp_path / "sscratch")
    write_span_snapshot(prior.unionAll(d1), scratch)
    got = {r["sh"] for r in spark.read.parquet(snap + "/spans").collect()}
    want = {
        r["sh"] for r in spark.read.parquet(scratch + "/spans").collect()
    }
    assert got == want
