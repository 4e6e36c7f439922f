"""remove_duplicate_spans (E102): pure-Python reference parity, alignment
coverage, short-doc and all-unique edge cases, plan shape."""

from __future__ import annotations

import re

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import text as T
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import conf_override


def _reference(rows, k, max_docfreq):
    """Brute-force twin: gram docfreq over all docs, cut covered tokens."""
    from collections import defaultdict
    toks = {i: t.split(" ") for i, t in rows}
    docs_per_gram = defaultdict(set)
    for i, tk in toks.items():
        for s in range(len(tk) - k + 1):
            docs_per_gram[" ".join(tk[s:s + k])].add(i)
    out = {}
    for i, tk in toks.items():
        cov = set()
        for s in range(len(tk) - k + 1):
            if len(docs_per_gram[" ".join(tk[s:s + k])]) > max_docfreq:
                cov.update(range(s, s + k))
        kept = [t for j, t in enumerate(tk) if j not in cov]
        out[i] = (" ".join(kept), len(kept), len(tk) - len(kept))
    return out


def _run(spark, rows, k=3, max_docfreq=1):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["clean_text"], r["n_tokens_kept"],
                         r["n_tokens_removed"])
           for r in T.remove_duplicate_spans(
               df, "doc_id", "text", k=k, max_docfreq=max_docfreq)
           .collect()}
    assert got == _reference(rows, k, max_docfreq), got
    return got


def test_shared_passage_cut_from_both_docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta unique one"),
        (2, "intro words alpha beta gamma delta epsilon zeta outro"),
        (3, "totally different tokens here nothing shared at all"),
    ]
    got = _run(spark, rows, k=4)
    # the shared 6-token passage is covered at every alignment in both
    assert "alpha" not in got[1][0] and "zeta" not in got[2][0]
    assert got[3][1] == 8 and got[3][2] == 0      # untouched doc


def test_any_alignment_is_caught(spark):
    # duplicate passage starts mid-doc on one side — overlapping k-grams
    # must still cover it (the fixed-segment operator would miss this)
    rows = [
        (1, "x1 x2 dup1 dup2 dup3 dup4 y1"),
        (2, "dup1 dup2 dup3 dup4 z1 z2 z3"),
    ]
    got = _run(spark, rows, k=4)
    for d in (1, 2):
        for t in ("dup1", "dup2", "dup3", "dup4"):
            assert t not in got[d][0]


def test_short_docs_and_within_doc_repeats(spark):
    rows = [
        (1, "tiny"),                               # shorter than k
        (2, "a b a b a b a b"),                    # repeats only WITHIN
        (3, "c d e f g h"),
    ]
    got = _run(spark, rows, k=3)
    # within-doc repetition is not cross-document duplication: docfreq=1
    assert got[2] == ("a b a b a b a b", 8, 0)
    assert got[1] == ("tiny", 1, 0)


def test_plan_no_position_self_join(spark):
    df = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d e")],
                               ["doc_id", "text"])
    out = T.remove_duplicate_spans(df, "doc_id", "text", k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the covered-position computation is the in-row linear run-merge —
    # never a per-token EXISTS over the start list (ArrayExists) and never
    # a position self-join
    assert "ArrayExists" not in plan


def test_plan_broadcast_gate_both_shapes(spark):
    """round-4 VERDICT item 3: the duplicated-gram set joins back with no
    hint, so AQE broadcasts it when it is small, and the join stays
    shuffled when broadcasting is off (web scale, where the docfreq>1
    gram set is unbroadcastable). Both shapes return the same rows."""
    df = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d e")],
                               ["doc_id", "text"])

    def run(fn, kw):
        out = fn(df, "doc_id", "text", **kw)
        rows = sorted(map(tuple, out.collect()))
        return rows, out._jdf.queryExecution().executedPlan().toString()

    for fn, kw, join in ((T.remove_duplicate_spans, {"k": 3}, "LeftSemi"),
                         (T.remove_common_segments, {"seg_tokens": 2},
                          "LeftOuter")):
        rows_b, plan_b = run(fn, kw)
        with conf_override(spark,
                           {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            rows_s, plan_s = run(fn, kw)
        assert re.search(rf"BroadcastHashJoin [^\n]*{join}", plan_b)
        assert "BroadcastHashJoin" not in plan_s
        assert re.search(rf"SortMergeJoin [^\n]*{join}", plan_s)
        assert rows_b == rows_s