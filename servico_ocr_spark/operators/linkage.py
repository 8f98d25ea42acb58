"""Record linkage by exact small-edit matching (SymSpell-style).

The deletion-neighborhood method (Garbe's SymSpell / the FastSS family
— public method): two strings are within Levenshtein distance 1 iff
they share a key in {self} ∪ {one-character deletions}, so an
equi-join on the deletion variants enumerates ALL distance-≤1 candidate
pairs without comparing every pair — the scalable alternative to
blocked all-pairs, whose block sizes track corpus size on template-
heavy corpora (measured: first-word title blocks on the synthetic
corpus hold ~n/30 titles at every sf, so any fixed block cap either
never binds or drops everything). Candidates are then verified with
the exact ``levenshtein`` — the repo's standard candidate→verify
discipline (minhash/simhash precedent), so a shared deletion between
distance-2 strings (e.g. 'ab'/'ba') never reaches the output.

Engine-dialect rule (the regex-subset precedent): Spark's
``levenshtein`` counts CODEPOINTS while DuckDB's counts UTF-8 BYTES —
they agree exactly on ASCII, so linkage keys must be normalized ASCII
(``norm_text`` output qualifies). Keep inputs inside that envelope.

No reference analog: the reference (luizanisio/Servico-OCR) has no
cross-document matching; this face exists for the training-data
curation mandate (duplicate titles / near-identical short fields).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .common import cut

#: completeness radius of the deletion-neighborhood candidates; the
#: verify step re-checks with the exact metric, so this is also the
#: output's max distance
EDIT_RADIUS = 1


def _deletion_keys(df: DataFrame, str_col: str) -> DataFrame:
    """``(s, key)``: each distinct string with its identity key and its
    ``len`` one-character-deletion keys. posexplode(sequence) +
    substring concat — whole-stage codegen, the bpe_pairs shingling
    shape; expansion factor is string length + 1, on the DISTINCT
    string table only."""
    s = F.col(str_col)
    dels = df.select(
        s.alias("s"),
        F.explode(F.sequence(F.lit(1), F.length(s))).alias("i"),
    ).select(
        "s",
        F.concat(
            F.expr("substring(s, 1, i - 1)"),
            F.expr("substring(s, i + 1)"),
        ).alias("key"),
    )
    return df.select(s.alias("s"), s.alias("key")).unionByName(dels)


def edit1_linkage(
    df: DataFrame,
    str_col: str = "title",
    id_col: str = "doc_id",
    max_key_df: int | None = None,
) -> DataFrame:
    """``(s_a, s_b, n_a, n_b, dist)``: all pairs of DISTINCT values of
    ``str_col`` at Levenshtein distance exactly 1 (``s_a < s_b``), with
    each value's row count — identical values are a count on one row,
    not a pair (exact duplicates are ``url_dedup``/``dedup_exact``'s
    job).

    Scale shape: one combinable count collapses rows to distinct
    strings; the deletion-variant table is |distinct| × (len+1) rows;
    ONE equi-join on the variant key enumerates candidates — per-key
    fan-out is bounded by the size of a near-duplicate family, never by
    the corpus (two strings meet only if they actually share a
    deletion). The exact ``levenshtein`` verify runs JVM-side on
    candidates only, and a distinct de-dupes pairs that met on several
    keys. ``max_key_df`` drops variant keys shared by more than that
    many strings BEFORE the join (the minhash df-cap rule for
    pathological hot families — e.g. 10^6 serial numbers differing in
    one position all share deletion keys); capped keys lose those
    candidates, a documented recall trade."""
    # counts is referenced four times (variant build ×2 via the
    # self-join, n_a, n_b) — without the cut the input scan +
    # aggregation ran twice in the executed plan; with it, one scan
    counts = cut(
        df.select(F.col(str_col).alias("title"))
        .groupBy("title")
        .agg(F.count("*").cast("long").alias("n"))
    )
    keys = _deletion_keys(counts.select("title"), "title")
    if max_key_df is not None:
        hot = (
            keys.groupBy("key")
            .agg(F.count("*").alias("_kdf"))
            .where(F.col("_kdf") <= int(max_key_df))
            .select("key")
        )
        keys = keys.join(hot, "key")
    cand = (
        keys.alias("a")
        .join(keys.alias("b"), "key")
        .where(F.col("a.s") < F.col("b.s"))
        .select(F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"))
        .distinct()
        .where(F.levenshtein("s_a", "s_b") <= EDIT_RADIUS)
    )
    na = counts.select(
        F.col("title").alias("s_a"), F.col("n").alias("n_a")
    )
    nb = counts.select(
        F.col("title").alias("s_b"), F.col("n").alias("n_b")
    )
    return (
        cand.join(na, "s_a")
        .join(nb, "s_b")
        .select(
            "s_a",
            "s_b",
            "n_a",
            "n_b",
            F.levenshtein("s_a", "s_b").cast("long").alias("dist"),
        )
    )
