"""Document-level text analysis operators (SURVEY.md §2.6 X9;
BASELINE.json: language-ID, quality scoring, token counting,
fingerprinting).

Everything is a narrow projection over the documents scan — no
shuffle, fully inside whole-stage codegen. At 100 TB these are
scan-bound; the only tuning lever is file-split size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from breweries_data_pipeline_spark.functions.text import (
    STOPWORDS_EN,
    STOPWORDS_ES,
    normalized_text,
    stopword_count,
    token_count,
)


def with_lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: compare per-language stopword hit counts
    (n-gram-free variant of the classic stopword profile method).
    Deterministic and SQL-expressible, so it is oracle-checkable."""
    en = stopword_count(text_col, STOPWORDS_EN)
    es = stopword_count(text_col, STOPWORDS_ES)
    return df.withColumn(
        out,
        F.when(en > es, F.lit("en")).when(es > en, F.lit("es")).otherwise(F.lit("und")),
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cheap quality signals + a composite score in [0, 1]:
    - length band (too-short and too-long docs are downweighted)
    - alpha ratio (alphabetic chars / all chars)
    - stopword ratio (natural text has some function words)
    All integer-ratio arithmetic -> bit-stable across engines."""
    n_chars = F.length(F.col(text_col))
    n_toks = token_count(text_col)
    n_alpha = F.length(F.regexp_replace(F.col(text_col), r"[^a-zA-Z]", ""))
    n_stop = stopword_count(text_col)
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    stop_ratio = n_stop.cast("double") / F.greatest(n_toks, F.lit(1)).cast("double")
    len_ok = (n_chars >= 50) & (n_chars <= 10000)
    score = (
        F.when(len_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + alpha_ratio * 0.3
        + F.least(stop_ratio * 3, F.lit(1.0)) * 0.3
    )
    return df.withColumns(
        {
            "n_chars_m": n_chars.cast("long"),
            "n_tokens": n_toks.cast("long"),
            "alpha_ratio": alpha_ratio,
            "stop_ratio": stop_ratio,
            "quality_score": score,
        }
    )


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized text.
    Stable across engines/runs; the exact-dedup key."""
    return df.withColumn(out, F.md5(normalized_text(text_col)))


def language_profile(df: DataFrame, lang_col: str = "lang", text_col: str = "text") -> DataFrame:
    """Corpus-level per-language stats (the q_text_stats shape):
    doc count, exact char sums, exact-ratio average doc length."""
    n_chars = F.length(F.col(text_col)).cast("long")
    return df.groupBy(lang_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(n_chars).alias("sum_chars"),
        (F.sum(n_chars).cast("double") / F.count("*").cast("double")).alias("avg_chars"),
        F.sum(token_count(text_col).cast("long")).alias("sum_tokens"),
    )


def bpe_learn_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus — the
    actual tokenizer-TRAINING loop, extending the single-round pair
    count (q_bpe_pair_counts) to the full iterative algorithm
    (Sennrich et al. 2016): each round promotes the most frequent
    adjacent token pair (count desc, then lexicographic — fully
    deterministic) and applies it greedily left-to-right to every
    word. Returns (merge_rank, lhs, rhs, pair_count).

    Cross-engine exactness: a word's token sequence is ONE canonical
    string (tokens joined by DOUBLE spaces); applying a merge is a
    literal ``replace(s, ' a  b ', ' ab ')`` — non-overlapping
    left-to-right replacement IS the BPE greedy application order, and
    the pattern takes one flanking space from each side and restores
    it, so the double-space invariant survives every round and
    adjacent overlapping pairs can never double-merge. DuckDB's
    ``replace`` has identical semantics, so the oracle unrolls the
    same rounds bit-for-bit.

    Scale shape at 100 TB: the loop runs on the WORD-FREQUENCY table
    (vocabulary-sized, orders of magnitude smaller than the corpus —
    one corpus-wide explode + hash aggregate builds it, exactly
    q_bpe_pair_counts' shape). Each round is one narrow map (the
    replace) + one explode-aggregate over the vocab with map-side
    combine, weighted by word counts; the argmax brings ONE row to the
    driver (bounded model state, same discipline as the kmeans seeds).
    Rounds are inherently sequential — that's BPE — but each is
    vocab-bounded, not corpus-bounded."""
    spark = docs.sparkSession
    words = (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
            ).alias("__w")
        )
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "__n",
            F.concat(
                F.lit("  "),
                F.concat_ws("  ", F.split(F.col("__w"), "")),
                F.lit("  "),
            ).alias("__s"),
        )
        .persist()
    )
    merges: list[tuple[int, str, str, int]] = []
    cur = words
    pair_expr = (
        "case when size(split(trim(__s), ' +')) >= 2 then "
        "transform(sequence(1, size(split(trim(__s), ' +')) - 1), "
        "i -> struct(element_at(split(trim(__s), ' +'), i) as a, "
        "element_at(split(trim(__s), ' +'), i + 1) as b)) "
        "else array() end"
    )
    for r in range(n_merges):
        top = (
            cur.select("__n", F.explode(F.expr(pair_expr)).alias("__p"))
            .groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
            .agg(F.sum("__n").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((r, a, b, cnt))
        cur = cur.withColumn(
            "__s",
            F.replace(
                F.col("__s"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            ),
        )
    words.unpersist()
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count long"
    )


def bpe_encode_fertility(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    n_merges: int = 4,
) -> DataFrame:
    """Tokenizer INFERENCE: apply the merges :func:`bpe_learn_merges`
    learns to the corpus and report post-merge fertility (BPE tokens
    per whitespace word) per language, in exact integer ppm — the
    metric a tokenizer eval actually reads (q_tokenizer_fertility is
    the pre-merge regex proxy). Returns
    (lang, bpe_tokens, words, fertility_ppm).

    The merge table is bounded model state (``n_merges`` rows — the
    same driver-side discipline as the kmeans seeds), so application
    is a chain of ``n_merges`` literal double-space replaces — greedy
    left-to-right BPE, identical in DuckDB (see bpe_learn_merges for
    the double-space invariant). Scale shape: encoding runs on the
    per-(lang, word) frequency table, NOT the corpus — one explode +
    hash aggregate corpus pass, then a vocab-sized equi-join of
    frequencies against encoded subtoken counts and a per-lang
    weighted sum. The corpus is scanned twice total (once to learn,
    once to count words); everything else is vocabulary-sized."""
    learned = bpe_learn_merges(docs, text_col, n_merges).collect()
    lang_words = (
        docs.select(
            F.col(lang_col).alias("lang"),
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
            ).alias("__w"),
        )
        .groupBy("lang", "__w")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    spaced = F.concat(
        F.lit("  "),
        F.concat_ws("  ", F.split(F.col("__w"), "")),
        F.lit("  "),
    )
    vocab = lang_words.select("__w").distinct().select("__w", spaced.alias("__s"))
    for row in learned:
        a, b = row["lhs"], row["rhs"]
        vocab = vocab.withColumn(
            "__s",
            F.replace(F.col("__s"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")),
        )
    enc = vocab.select(
        "__w",
        F.size(F.split(F.trim(F.col("__s")), " +")).cast("long").alias("__nsub"),
    )
    return (
        lang_words.join(enc, "__w")
        .groupBy("lang")
        .agg(
            F.sum(F.col("__n") * F.col("__nsub")).alias("bpe_tokens"),
            F.sum("__n").alias("words"),
        )
        .select(
            "lang",
            "bpe_tokens",
            "words",
            F.expr("(bpe_tokens * CAST(1000000 AS BIGINT)) div words").alias(
                "fertility_ppm"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Python UDTF (Spark 4): fixed-size token chunking as a LATERAL
# table function
# ---------------------------------------------------------------------------

_JAVA_WS = "[ \\t\\n\\x0b\\f\\r]+"  # Java's ASCII-only \s — NOT Python's
                                    # unicode-aware \s; keeps the Python
                                    # tokenizer bit-compatible with the
                                    # engine-side split(text, '\\s+')
                                    # convention used registry-wide.


def chunk_tokens_py(text: str | None, chunk_size: int = 32):
    """Pure-Python chunking kernel shared by the UDTF and its unit
    test: whitespace tokens -> fixed-size chunks, yielding
    (chunk_ix, chunk_text, chunk_tokens). Deterministic and
    tokenizer-identical to ``split(trim(text), '\\\\s+')``."""
    import re

    if text is None:
        return
    # strip SPACES only: the engine-side filter and the DuckDB oracle
    # both use trim(), which removes ASCII 0x20 and nothing else.
    # Python's bare .strip() removes tabs/newlines/unicode whitespace
    # too, so a doc like '\tfoo' (or a whitespace-only '\t', which
    # PASSES the trim(text) <> '' filter) would diverge from the
    # oracle's empty edge tokens.
    t = text.strip(" ")
    if not t:
        return
    toks = re.split(_JAVA_WS, t)
    for i in range(0, len(toks), chunk_size):
        piece = toks[i : i + chunk_size]
        yield (i // chunk_size, " ".join(piece), len(piece))


def make_chunk_udtf(chunk_size: int = 32):
    """Arrow-optimized Python UDTF (Spark 4 `@udtf`) that explodes a
    document into fixed-size token chunks — the sequence-packing
    pre-step for context-window-bounded training corpora, realized as
    a LATERAL table function so the optimizer keeps the scan columns
    pruned and the fan-out streams one Arrow batch at a time (no
    driver materialization, no shuffle: the UDTF is a narrow map with
    fan-out, so at 100 TB it rides the scan's parallelism).

    Returned class is already decorated; register with
    ``spark.udtf.register("chunk_doc", make_chunk_udtf())`` and call
    via ``... FROM docs d, LATERAL chunk_doc(d.text) c``.
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_ix int, chunk_text string, chunk_tokens int",
        useArrow=True,
    )
    class ChunkDoc:
        def eval(self, text: str | None):
            yield from chunk_tokens_py(text, chunk_size)

    return ChunkDoc


def utf8_profile_arrow(batches):
    """Pure-Arrow kernel for ``mapInArrow``: per-doc UTF-8 byte vs
    codepoint profile (mixed-encoding / mojibake screen and the input
    to bytes-per-token budget math). Zero pandas conversion — each
    RecordBatch is transformed with pyarrow.compute vector calls and
    re-emitted, so the per-batch Python overhead is a handful of
    C++-vectorized calls regardless of row count. Use via
    ``df.mapInArrow(utf8_profile_arrow, UTF8_PROFILE_SCHEMA)``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        tbl = pa.Table.from_batches([b])
        text = tbl.column("text")
        n_bytes = pc.binary_length(pc.cast(text, pa.binary()))
        n_cp = pc.utf8_length(text)
        yield pa.RecordBatch.from_arrays(
            [
                tbl.column("doc_id").combine_chunks(),
                pc.cast(n_bytes, pa.int64()).combine_chunks(),
                pc.cast(n_cp, pa.int64()).combine_chunks(),
                pc.equal(n_bytes, n_cp).combine_chunks(),
            ],
            names=["doc_id", "n_bytes", "n_codepoints", "is_ascii"],
        )


UTF8_PROFILE_SCHEMA = "doc_id long, n_bytes long, n_codepoints long, is_ascii boolean"


def lang_stats_arrow(tbl):
    """Grouped pure-Arrow kernel for ``applyInArrow``: one group's
    documents arrive as a pyarrow Table; reduce to a single stats row
    with pyarrow.compute aggregates (no pandas materialization).
    NOTE: a grouped COUNT/SUM/MAX belongs JVM-side in production —
    this kernel exists to exercise (and document) the applyInArrow
    surface for genuinely non-SQL per-group reductions; the plan
    still shuffles once on the group key like any grouped map."""
    import pyarrow as pa
    import pyarrow.compute as pc

    text = tbl.column("text")
    n_bytes = pc.cast(pc.binary_length(pc.cast(text, pa.binary())), pa.int64())
    return pa.table(
        {
            "lang": [tbl.column("lang")[0].as_py()],
            "n_docs": [tbl.num_rows],
            "total_bytes": [pc.sum(n_bytes).as_py()],
            "max_bytes": [pc.max(n_bytes).as_py()],
        }
    )


LANG_STATS_SCHEMA = "lang string, n_docs long, total_bytes long, max_bytes long"
