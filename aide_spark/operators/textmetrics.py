"""Repetition-based quality signals (the Gopher/MassiveText filter family).

Real LLM-data pipelines gate documents on *repetition*: a page whose
characters are mostly one repeated 2-gram, or whose 5-grams are mostly
duplicates, is boilerplate/SEO spam, not prose (Rae et al. 2021, "Scaling
Language Models: ... Gopher", §A.1.1 — public paper; the thresholds there
are fractions of characters contained in repeated n-grams).

Everything here is columnar DataFrame algebra:

* word n-grams come from ``slice``+``array_join`` over the split words —
  no Python in the loop;
* the per-(doc, gram) counts are one hash aggregate keyed on
  ``(doc_id, gram)`` — balanced by construction (a hot gram is still
  spread across docs, a hot doc across grams), partial-agg map-side;
* the per-doc reductions are a second hash aggregate keyed on ``doc_id``.

At 100 TB this is exactly the shape you want: two shuffles, both on keys
whose cardinality grows with the data, no window over the whole corpus,
no driver collection. Ratios surface as floor-ppm BIGINTs so a DuckDB
oracle hashes bit-identically (same integer → double → multiply → divide
→ floor sequence in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_ngrams(words: Column, n: int) -> Column:
    """Array of space-joined word ``n``-grams of an array<string> column.

    ``transform`` over ``sequence(1, size-n+1)`` + ``slice`` keeps the whole
    construction in one JVM projection (empty when the doc has < n words).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    upper = F.size(words) - F.lit(n - 1)
    return F.when(upper < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), upper),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        )
    )


def _ppm(num: Column, den: Column) -> Column:
    return F.floor(num.cast("double") * 1000000.0 / F.greatest(den, F.lit(1))).cast(
        "long"
    )


def repetition_signals(docs: DataFrame) -> DataFrame:
    """The composed Gopher-style repetition gate: (doc_id, top2gram_ppm,
    dup5gram_ppm, dup_word_ppm).

    r6 shape (guide §2.3/§2.4): ONE tagged union of the three gram explodes
    (words / 2-grams / 5-grams) → one hash aggregate on (doc_id, tag, gram)
    → one conditional aggregate on doc_id → one left join back to the doc
    universe. The r5 form ran each signal as its own two-aggregate path and
    joined the three results (18 Exchanges; the per-path aggregates were
    keyed on (doc_id, n_chars) so the doc_id joins re-shuffled everything).
    This plan has 4 Exchanges, shuffles each gram row once, and the final
    join reuses the doc_id partitioning of the second aggregate. Per-signal
    algebra, tie-breaks and NULL semantics are unchanged (oracle-pinned).
    """
    base = docs.select("doc_id", "text")
    words = F.split(F.col("text"), r"\s+")
    wb = base.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(words).cast("long").alias("n_words"),
        words.alias("_ws"),
    )

    def gram_rows(n: int, tag: int) -> DataFrame:
        pos = wb.select(
            "doc_id",
            "n_chars",
            "n_words",
            "_ws",
            F.explode(
                F.when(
                    F.size("_ws") >= n,
                    F.sequence(F.lit(1), F.size("_ws") - (n - 1)),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("_i"),
        )
        gram = F.concat_ws(
            " ", *[F.get("_ws", F.col("_i") - 1 + k) for k in range(n)]
        )
        return pos.select(
            "doc_id",
            "n_chars",
            "n_words",
            F.lit(tag).alias("tag"),
            gram.alias("gram"),
        )

    allg = gram_rows(2, 2).unionAll(gram_rows(5, 5)).unionAll(gram_rows(1, 1))
    counts = allg.groupBy("doc_id", "tag", "gram").agg(
        F.count("*").alias("cnt"),
        F.min("n_chars").alias("n_chars"),
        F.min("n_words").alias("n_words"),
    )
    # min(struct(-cnt, gram)) = max cnt, tie -> smallest gram; min/sum
    # ignore the other tags
    per = counts.groupBy("doc_id").agg(
        F.min(
            F.when(
                F.col("tag") == 2,
                F.struct((-F.col("cnt")).alias("neg"), F.col("gram").alias("g")),
            )
        ).alias("top2"),
        F.sum(
            F.when(
                (F.col("tag") == 5) & (F.col("cnt") > 1),
                F.col("cnt") * F.length("gram"),
            ).otherwise(F.lit(0))
        ).alias("dup5chars"),
        F.sum(
            F.when(F.col("tag") == 1, F.col("cnt") - 1).otherwise(F.lit(0))
        ).alias("dupw"),
        F.min("n_chars").alias("n_chars"),
        F.min("n_words").alias("n_words"),
    )
    out = base.select("doc_id").join(per, "doc_id", "left")
    top2 = _ppm((-F.col("top2.neg")) * F.length("top2.g"), F.col("n_chars"))
    dup5 = _ppm(F.col("dup5chars"), F.col("n_chars"))
    dupw = _ppm(F.col("dupw"), F.col("n_words"))
    # a doc too short to have any n-gram has, by definition, zero repetition
    return out.select(
        "doc_id",
        F.coalesce(top2, F.lit(0)).cast("long").alias("top2gram_ppm"),
        F.coalesce(dup5, F.lit(0)).cast("long").alias("dup5gram_ppm"),
        F.coalesce(dupw, F.lit(0)).cast("long").alias("dup_word_ppm"),
    )
