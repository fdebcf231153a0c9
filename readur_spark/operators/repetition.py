"""Within-document repetition filters (Gopher / MassiveText rules C.2).

quality_gopher (functions/textstats.gopher_flags_cols) covers the
document-shape rules; this operator covers the REPETITION family the same
paper pairs with them: excessive duplicate lines/paragraphs and top-n-gram
character coverage are the strongest low-quality signals in crawled text
(boilerplate, listings, keyword stuffing).

Metrics per document (fractions in [0,1]):

* ``dup_line_frac``      — occurrences belonging to a line that appears
  more than once / total lines (all occurrences of a duplicated line
  count, matching the "fraction of lines that are duplicates" reading);
* ``dup_line_char_frac`` — same, weighted by line characters;
* ``dup_para_frac`` / ``dup_para_char_frac`` — the paragraph versions
  (paragraphs = blank-line-separated blocks);
* ``top{2,3,4}_char_frac`` — characters covered by the single most
  frequent word {2,3,4}-gram / total characters.

``rep_pass`` applies the MassiveText thresholds: dup_line ≤ 0.30,
dup_para ≤ 0.30, dup-char versions ≤ 0.20, top-2-gram ≤ 0.20, top-3 ≤
0.18, top-4 ≤ 0.16.

Scale shape: one explode + map-side-combining groupBy per family, keyed by
(doc, unit) — shuffles are uniform (a unit repeats only within its doc)
and everything is codegen'd Catalyst; no Python in the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
}


def _dup_unit_fracs(docs, unit_col_expr, prefix):
    """(id, {prefix}_frac, {prefix}_char_frac) for one unit family."""
    units = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(unit_col_expr).alias("unit"),
    ).where(F.trim(F.col("unit")) != "")
    per_unit = units.groupBy("id", "unit").agg(F.count("*").alias("cnt"))
    return per_unit.groupBy("id").agg(
        (
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            / F.sum(F.col("cnt"))
        ).alias(f"{prefix}_frac"),
        (
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.length("unit")).otherwise(0)
            )
            / F.sum(F.col("cnt") * F.length("unit"))
        ).alias(f"{prefix}_char_frac"),
    )


def _top_ngram_frac(docs, n):
    """(id, top{n}_char_frac): chars covered by the most frequent word
    n-gram / total doc chars. Tokenization matches the shingle family
    (lowercase, non-alnum splits) so oracles reproduce it.

    Built with posexplode + window lead like the shingle family — an
    array/HOF gram build re-evaluates the tokenization per element
    (interpreted lambdas have no common-subexpression elimination) and
    goes quadratic on mega documents."""
    from pyspark.sql.window import Window

    tokens = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
    )
    # NOTE: no computed text-level column (e.g. length(text)) may ride
    # through the posexplode — Catalyst can evaluate such a projection
    # AFTER the Generate, i.e. once per exploded row, which on a mega doc
    # means 200k × O(1.3M) numChars scans (observed as a multi-hour hang).
    # Per-doc totals join back in AFTER the aggregation instead.
    rows = docs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(tokens).alias("pos", "tk"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tk")] + [F.lead("tk", j).over(w) for j in range(1, n)]
    exploded = rows.select(
        "id",
        F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("gram"),
    ).where(F.col("gram").isNotNull())
    counts = exploded.groupBy("id", "gram").agg(F.count("*").alias("cnt"))
    # a gram occurring once is not repetition (short docs would otherwise
    # trip the rule on any long-ish phrase); overlapping occurrences can
    # nominally cover > 100% of the doc — clamp to 1
    best = counts.groupBy("id").agg(
        F.max(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram")).otherwise(0)
        ).alias("best_chars")
    )
    totals = docs.select(
        F.col("doc_id").alias("id"), F.length("text").alias("total_chars")
    )
    return best.join(totals, "id").select(
        "id",
        F.round(
            F.least(F.col("best_chars") / F.col("total_chars"), F.lit(1.0)), 6
        ).alias(f"top{n}_char_frac"),
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Per-document repetition metrics + the MassiveText ``rep_pass``
    verdict. Documents with no qualifying units score 0 for that family
    (nothing repeated)."""
    lines = F.split(F.col("text"), r"\n")
    paras = F.split(F.col("text"), r"\n\s*\n")
    line_f = _dup_unit_fracs(docs, lines, "dup_line")
    para_f = _dup_unit_fracs(docs, paras, "dup_para")
    out = docs.select(F.col("doc_id").alias("id"))
    for part in (
        line_f,
        para_f,
        _top_ngram_frac(docs, 2),
        _top_ngram_frac(docs, 3),
        _top_ngram_frac(docs, 4),
    ):
        out = out.join(part, "id", "left")
    metric_cols = [
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
        "top2_char_frac",
        "top3_char_frac",
        "top4_char_frac",
    ]
    for c in metric_cols:
        out = out.withColumn(c, F.round(F.coalesce(F.col(c), F.lit(0.0)), 6))
    verdict = F.lit(True)
    for c, t in THRESHOLDS.items():
        verdict = verdict & (F.col(c) <= t)
    return out.select(
        F.col("id").alias("doc_id"), *metric_cols, verdict.alias("rep_pass")
    )
