"""Physical-plan audit across the ENTIRE query registry.

For every ``__spark_entry__.queries()`` entry, build the DataFrame at the
given sf dir (default sf0.001 — plan shape, not timing), stringify the
executed plan, and tabulate the scale-relevant features:

- exchanges (hash/range), broadcasts, join strategies,
- scan count + whether any scan carries a NON-empty pushed-filter list,
- WindowGroupLimit / TakeOrderedAndProject (bounded top-k),
- crossBNLJ count (the deliberate broadcast-of-a-bounded-frame idiom,
  reported per query so reviewers can audit each use),
- red flags: CartesianProduct and CONDITIONED BroadcastNestedLoopJoin
  (a non-equi join that found no hash strategy).

``localCheckpoint`` cuts lineage, so the FINAL executed plan of a
two-phase or iterative query shows only a scan of the checkpointed RDD —
round 6's audit was blind to everything upstream of a checkpoint (the
two-phase family tabulated all-zero rows and a BNLJ introduced there
would have been invisible; round-6 VERDICT item 2). This tool now
instruments ``DataFrame.localCheckpoint`` for the duration of each
query build: every checkpoint site first records its CHILD plan, the
per-query features are the SUM over the final plan plus all captured
subtrees (booleans OR'd), the red-flag scan covers every captured plan,
and a ``ckpt`` column reports how many subtrees each query checkpointed
(iterative ops capture one per round — the count is the executed
reality, not a normalized shape).

Writes a markdown report (default PLANS_r04.md) with a red-flag summary
first — the 100 TB posture made auditable in one artifact instead of
per-query spot checks.

Adaptive-rider dual-path audit (round-7 VERDICT item 2): the ``ids.*``
helpers route between a single-task window and the two-phase
range-partition machinery on a Catalyst size estimate
(``ids._take_window_path``). Planning at sf0.001 always lands on the
small-N window path, so round 7's audit never saw the plan that runs at
100 TB. This tool now TRACKS the gate during each build; every query
that took the window path at least once is re-planned a second time
with the gate forced to the scale path, reported as its own
``name ⟨scale⟩`` row and included in the red-flag scan — so "0 flags"
means 0 flags on BOTH plan families.

Usage: python tools/plan_report.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import get_spark

# Documented, intentional exceptions to the red-flag rules (kept tiny and
# explicit so new offenders still fail loudly in the summary).
ALLOWED = {
    # dense window grid: 1-row span agg cross-joined into the slot explode
    "events_windowed_dense": {"cartesian"},
}

# Queries allowed to carry an UNPARTITIONED Window operator (round-8
# VERDICT item 3: the WindowExec "No Partition Defined" warnings were
# established as bounded only by manual review — this set makes that
# review executable). Every entry names the bounded site; a global
# window in any query NOT listed here (and not an adaptive ids.* rider
# whose ⟨scale⟩ twin is global-window-free — those are auto-allowed,
# the twin row being the proof the scale plan has none) is a red flag.
# Classified round 9 by dumping every matching Window line from the
# final + checkpointed plans of all 307 queries and tracing each to its
# source site.
ALLOWED_GLOBAL_WIN: dict[str, str] = {
    # -- value-domain / vocabulary / bin-count-sized window inputs -----
    "part_price_size_skyline":
        "frontier thresholds over DISTINCT price (skyline.py: value-"
        "domain-sized input; two-phase boundary-merge fallback documented)",
    "docs_vocab_index":
        "vocabulary rank window (ranking.py::vocab_index — |vocab| rows; "
        "shard-by-term-hash fallback documented)",
    "docs_term_matrix_sparse": "same vocab_index rank window",
    "events_t_closeness_audit":
        "value-bin cumsum + 1-row bucket totals (privacy.py:87 — |bins| "
        "rows)",
    "vocab_growth_curve":
        "10-bucket growth cumsum (bounded); the ids ntile beside it is "
        "the adaptive small-N path — its ⟨scale⟩ twin keeps only the "
        "10-row cumsum",
    "customer_lorenz_deciles":
        "10-bin Lorenz cumsum + 1-row total (bounded); ids ntile as "
        "above — ⟨scale⟩ twin keeps only the bin windows",
    "curation_funnel_report":
        "stage-over-stage lag over |pipeline stages| rows (corpus.py:239)",
    "neardup_bow_cosine_pairs":
        "dense-BoW block indexer over |vocab| terms (dedup.py — raises "
        "loudly past max_vocab)",
    "null_semantics_audit": "literal VALUES probe (5 rows)",
    # -- k-source mixture plan frames ----------------------------------
    "mixture_plan_budget":
        "MAX(weight) OVER () self-rescale on the k-source plan frame "
        "(mixture.py — k = #observed sources)",
    "mixture_sample_docs": "same k-source mixture plan frame",
    "mixture_plan_temperature": "same k-source mixture plan frame",
    # -- k-row-by-construction window inputs ---------------------------
    "events_user_bottomk_sample":
        "KMV bottom-k rank AFTER orderBy().limit(k) (kmv.py — k-row "
        "input frame)",
    "hybrid_rrf_topk":
        "lexical_topn rank AFTER TakeOrderedAndProject(n) "
        "(ranking.py::lexical_topn — n-row input)",
    "top_user_paths":
        "rank<=20 compiles to TakeOrderedAndProject(20) BELOW the window "
        "(LimitPushDownThroughWindow; 20-row window input — verified in "
        "the executed plan)",
    "lexical_rank_agreement_eval":
        "two rank windows over TakeOrderedAndProject(20) outputs (the "
        "kmv bottom-k bounded-window pattern; 20-row inputs)",
    # -- dedicated registered scale twin -------------------------------
    "events_concurrency_histogram":
        "sweep-line reference form; events_concurrency_histogram_scaled "
        "IS the registered two-phase scale path (same oracle, "
        "hash-certified)",
}


def _is_global_window(ln: str) -> bool:
    """True when a physical-plan line is a Window operator with an EMPTY
    partition spec. Rendering (verified on PySpark 4.1): the node prints
    ``Window [exprs]`` plus the partition spec and/or order spec as
    trailing bracket groups, each OMITTED when empty — so 3 groups =
    partitioned+ordered, 1 group = global unordered (full-frame agg),
    and 2 groups is AMBIGUOUS: partitioned-unordered (``count(1) over
    (partition by k)``) vs global-ordered. Disambiguator: an order spec
    always renders sort directions (``ASC NULLS``/``DESC NULLS``); a
    partition spec renders bare expressions. A depth scan finds the
    top-level groups so brackets inside expression renderings can't
    miscount. ``WindowGroupLimit`` lines don't match (different node
    name)."""
    s = ln.lstrip(" +-:|")
    if not s.startswith("Window ["):
        return False
    depth = 0
    groups: list[str] = []
    for ch in s[len("Window "):]:
        if ch == "[":
            if depth == 0:
                groups.append("")
            depth += 1
        elif ch == "]":
            depth -= 1
        elif depth == 1:
            groups[-1] += ch
    if len(groups) >= 3:
        return False
    if len(groups) <= 1:
        return True
    last = groups[-1]
    return " ASC NULLS" in last or " DESC NULLS" in last


def _features(plan: str) -> dict:
    # strip the scalar-subquery broadcast cross joins Spark renders for
    # 1-row frames? No: count them — the ALLOWED table handles intent.
    return {
        "hash_exchanges": plan.count("Exchange hashpartitioning"),
        "range_exchanges": plan.count("Exchange rangepartitioning"),
        "broadcasts": plan.count("BroadcastExchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "scans": plan.count("Scan parquet"),
        # at least one scan carries a NON-empty pushed-filter list
        "pushed": bool(re.search(r"PushedFilters: \[(?!\])", plan)),
        "wgl": "WindowGroupLimit" in plan,
        "top": "TakeOrderedAndProject" in plan,
        "cartesian": "CartesianProduct" in plan,
        # Cross-type BNLJ = the deliberate broadcast-of-a-bounded-frame
        # idiom (scalar thresholds, k-row query sets): the build side is a
        # broadcast whose size the operator bounds by construction. The
        # red flag is a NON-cross BNLJ — a non-equi join that failed to
        # find a hash strategy and will stream |left|·|right|.
        # (a condition-less "BuildRight, Inner" BNLJ is a cross of a
        # broadcast bounded frame too — same idiom, different rendering)
        "bnlj": any(
            "BroadcastNestedLoopJoin" in ln and ", Cross" not in ln
            and not re.fullmatch(
                r".*BroadcastNestedLoopJoin Build(Left|Right), Inner\s*",
                ln)
            for ln in plan.splitlines()),
        "bnlj_cross": plan.count("BroadcastNestedLoopJoin BuildRight, Cross")
        + plan.count("BroadcastNestedLoopJoin BuildLeft, Cross"),
        # unpartitioned Window operators (single-task global sort+window):
        # fine on bounded frames, a scale-killer on fact-sized ones —
        # audited via ALLOWED_GLOBAL_WIN + the adaptive-rider auto-allow
        "global_windows": sum(
            1 for ln in plan.splitlines() if _is_global_window(ln)),
    }


def _merge(feats: list[dict]) -> dict:
    """Sum counters / OR booleans across the final plan + checkpointed
    subtree plans of one query."""
    out = dict(feats[0])
    for f in feats[1:]:
        for k, v in f.items():
            out[k] = (out[k] or v) if isinstance(v, bool) else out[k] + v
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS_r04.md"
    spark = get_spark("plan-report", cpus=8)

    # Capture every checkpointed subtree's plan (see module docstring):
    # the wrapper records the CHILD executed plan, then delegates. Patch
    # the CONCRETE DataFrame class (pyspark.sql.classic.dataframe in
    # PySpark 4 overrides the base-class method, so patching
    # pyspark.sql.DataFrame would silently capture nothing).
    DataFrame = type(spark.range(1))
    captured: list[str] = []
    orig_ckpt = DataFrame.localCheckpoint

    def _capturing(self, *args, **kwargs):
        # forward ALL arguments verbatim — PySpark 4.1's signature also
        # takes storageLevel, and narrowing it here would break such
        # callers only during plan-report runs
        try:
            captured.append(
                self._jdf.queryExecution().executedPlan().toString())
        except Exception:  # noqa: BLE001 — capture must never break a query
            pass
        return orig_ckpt(self, *args, **kwargs)

    DataFrame.localCheckpoint = _capturing

    # Track the adaptive ids.* gate (module docstring): when a build takes
    # the window path anywhere, re-plan it with the gate forced to the
    # two-phase path so the red-flag scan provably covers the plan family
    # that runs at scale.
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import ids
    orig_gate = ids._take_window_path
    gate_state = {"window_hits": 0, "force_scale": False}

    def _tracking_gate(df, order_cols):
        if gate_state["force_scale"]:
            return False
        took = orig_gate(df, order_cols)
        gate_state["window_hits"] += took
        return took

    ids._take_window_path = _tracking_gate

    def _plan_row(fn):
        captured.clear()
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        f = _merge([_features(p) for p in [plan] + captured])
        f["ckpt"] = len(captured)
        return f

    rows, errors, scale_rows = [], [], 0
    try:
        for name, fn in entrymod.queries().items():
            gate_state["window_hits"] = 0
            gate_state["force_scale"] = False
            try:
                rows.append((name, _plan_row(fn)))
            except Exception as exc:  # noqa: BLE001 — report, don't die
                msg = (str(exc).splitlines() or [repr(exc)])[0][:200]
                errors.append((name, msg))
                continue
            if gate_state["window_hits"]:
                gate_state["force_scale"] = True
                try:
                    rows.append((f"{name} ⟨scale⟩", _plan_row(fn)))
                    scale_rows += 1
                except Exception as exc:  # noqa: BLE001
                    msg = (str(exc).splitlines() or [repr(exc)])[0][:200]
                    errors.append((f"{name} ⟨scale⟩", msg))
    finally:
        DataFrame.localCheckpoint = orig_ckpt
        ids._take_window_path = orig_gate
    flags = []
    # adaptive ids.* riders whose forced scale-path twin carries ZERO
    # global windows: their base-row global window is the documented
    # small-N path, and the twin row IS the proof the 100 TB plan has none
    scale_clean = {name.removesuffix(" ⟨scale⟩") for name, f in rows
                   if name.endswith(" ⟨scale⟩")
                   and f["global_windows"] == 0}
    for name, f in rows:
        base = name.removesuffix(" ⟨scale⟩")
        allowed = ALLOWED.get(base, set())
        for flag in ("cartesian", "bnlj"):
            if f[flag] and flag not in allowed:
                flags.append((name, flag))
        if (f["global_windows"] and base not in ALLOWED_GLOBAL_WIN
                and not (not name.endswith(" ⟨scale⟩")
                         and base in scale_clean)):
            flags.append((name, f"globalWin×{f['global_windows']}"))
    with open(out_md, "w") as fh:
        fh.write("# Physical-plan audit — every registered query\n\n")
        fh.write(f"sf_dir: `{sf_dir}` · {len(rows)} plans "
                 f"({scale_rows} forced scale-path re-plans of adaptive "
                 f"ids.* riders — BOTH plan families are scanned) · "
                 f"{len(errors)} errors · generated by tools/plan_report.py\n\n")
        fh.write("## Red flags\n\n")
        if not flags:
            fh.write("None. No CartesianProduct, BroadcastNestedLoopJoin, "
                     "or unpartitioned Window (`gWin` column — global "
                     "windows are red flags unless the site is in the "
                     "documented ALLOWED_GLOBAL_WIN set or the query is "
                     "an adaptive ids.* rider whose ⟨scale⟩ twin plans "
                     "zero of them) "
                     "anywhere outside the documented ALLOWED set — "
                     "including inside every checkpointed subtree (the "
                     "`ckpt` column counts the captured pre-checkpoint "
                     "plans each query's features now include) and in "
                     "every `⟨scale⟩` row (the same query re-planned with "
                     "the adaptive ids.* gate forced to the two-phase "
                     "path that runs at 100 TB).\n\n")
        else:
            for name, flag in flags:
                fh.write(f"- **{name}**: {flag}\n")
            fh.write("\n")
        if errors:
            fh.write("## Errors\n\n")
            for name, msg in errors:
                fh.write(f"- {name}: `{msg}`\n")
            fh.write("\n")
        fh.write("## Per-query features\n\n")
        fh.write("| query | hashEx | rangeEx | bcast | BHJ | SMJ | scans |"
                 " pushed | WGL | TopK | xBNLJ | gWin | ckpt |\n|---|--:|--:|"
                 "--:|--:|--:|--:|:-:|:-:|:-:|--:|--:|--:|\n")
        for name, f in rows:
            fh.write(
                f"| {name} | {f['hash_exchanges']} | {f['range_exchanges']} |"
                f" {f['broadcasts']} | {f['bhj']} | {f['smj']} | {f['scans']} |"
                f" {'y' if f['pushed'] else ''} | {'y' if f['wgl'] else ''} |"
                f" {'y' if f['top'] else ''} | {f['bnlj_cross'] or ''} |"
                f" {f['global_windows'] or ''} | {f['ckpt'] or ''} |\n")
    print(f"wrote {out_md}: {len(rows)} plans, {len(flags)} flags, "
          f"{len(errors)} errors")
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
