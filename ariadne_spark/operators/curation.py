"""Corpus-curation text operators: benchmark decontamination and
repetition-quality (Gopher-style) statistics.

Both are pure relational plans over word n-grams — explode + hash
groupBy/join only, no pairwise work, no UDFs — so they run at any
corpus size: cost is O(total n-grams) with map-side partial
aggregation, and the decontamination probe side (the benchmark n-gram
set) is small by construction, so it broadcasts.

Integer-exact arithmetic (permille counters via floor division) shared
verbatim with the DuckDB oracle SQL, per the repo's cross-engine
parity rule.

Reference analogs:
- decontaminate ≅ ariadne's held-out/test-entity detection that keeps
  evaluation material out of the analyzed set (P4,
  `packages/core/src/project/detect_test_file.ts:21` — filename-pattern
  registries per language; here the "pattern" is verbatim n-gram
  overlap with a benchmark corpus, the form LLM training pipelines
  use for eval decontamination).
- repetition_stats ≅ the capture-quality gates that drop degenerate
  constructs before indexing (P1,
  `packages/core/src/index_single_file/index_single_file.ts:98-120`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ariadne_spark.functions.embed import int_dot, quantize


def word_ngrams(text_col: str, n: int) -> Column:
    """Array of space-joined word n-grams of `text_col` (Column expr).

    Guarded for short texts: fewer than n words -> empty array. The
    guard matters because Spark's sequence(1, size-k) DESCENDS when
    size-k < 1 instead of returning empty.
    """
    ws = f"split({text_col}, ' ')"
    return F.expr(
        f"CASE WHEN size({ws}) >= {n} THEN "
        f"transform(sequence(1, size({ws}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({ws}, i, {n}))) "
        f"ELSE array() END"
    )


def sql_word_ngrams(text_col: str, n: int) -> str:
    """DuckDB twin of word_ngrams: same grams, same order.

    DuckDB's range(lo, hi) is exclusive-end (empty when hi <= lo) and
    list slicing is 1-based inclusive, so [i : i+n-1] is n elements.
    """
    ws = f"string_split({text_col}, ' ')"
    return (
        f"CASE WHEN len({ws}) >= {n} THEN "
        f"list_transform(range(1, len({ws}) - {n - 2}), "
        f"i -> array_to_string({ws}[i:i+{n - 1}], ' ')) "
        f"ELSE [] END"
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    min_hits: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (id, n_contaminated_grams, contaminated) per corpus row:
    how many DISTINCT word n-grams of the document appear verbatim
    anywhere in the benchmark corpus, and whether that count crosses
    min_hits (the eval-decontamination gate).

    Scale shape: the benchmark n-gram set is distinct-aggregated first
    — benchmarks are tiny next to a training corpus, so the semi-join
    probe side broadcasts; the corpus side is one explode + distinct +
    groupBy, all map-side-combinable. At extreme gram cardinality,
    hash grams to int64 (xxhash64) before the join to shrink shuffle
    width — kept as strings here so the DuckDB oracle is verbatim.
    """
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(text_col, n)).alias("gram")).distinct()
    )
    doc_grams = corpus.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram")
    ).distinct()
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    n_hits = F.coalesce(F.col("_n"), F.lit(0)).cast("long")
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            n_hits.alias("n_contaminated_grams"),
            (n_hits >= min_hits).cast("long").alias("contaminated"),
        )
    )


def _idivc(a: Column, b: Column) -> Column:
    """Exact floor division of non-negative long Columns (matches
    DuckDB //): (a - a%b) is exactly divisible by b."""
    return ((a - (a % b)) / b).cast("long")


def ws_token_count(text_col: str = "text") -> Column:
    """Whitespace-token count of a text column as pure column math
    (length minus spaceless length plus one) — the canonical token
    expression for the packer (materialize_training_run), the entry
    queries, and api.corpus_card, so THAT trio's token totals can never
    silently diverge.

    PRECONDITION (stated, tested in test_curation): the formula counts
    separator-delimited fields, so it equals the split+filter(x != '')
    tokenizer (used by surprisal_score / features._tokens /
    bpe.word_freq_table) only on SINGLE-space-separated, non-empty,
    no-leading/trailing-space text — the synth corpus convention. On
    text with consecutive/edge spaces the two conventions legitimately
    differ (this one counts empty fields; the split+filter one drops
    them); pick per counter, don't mix within one total."""
    return (
        F.length(text_col)
        - F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (id, n_words, top_word_permille, dup_bigram_permille,
    repetitive) per document — the Gopher-style repetition gates
    (Rae et al., arXiv:2112.11446 §A1.1: fraction of the text that is
    the most-frequent word / duplicated n-grams), as integer permille
    so both engines agree bit-for-bit.

    repetitive = top word >= 15% of tokens OR duplicate bigrams
    >= 10% of bigrams. One explode per grain + hash aggregation; no
    joins wider than the per-doc aggregates.
    """
    uni = (
        docs.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.max("c").cast("long").alias("top_c"),
        )
    )
    bg = (
        docs.select(
            F.col(id_col), F.explode(word_ngrams(text_col, 2)).alias("bigram")
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bg"),
            F.countDistinct("bigram").cast("long").alias("n_dbg"),
        )
    )
    j = uni.join(bg, id_col, "left")
    n_bg = F.coalesce(F.col("n_bg"), F.lit(0)).cast("long")
    n_dbg = F.coalesce(F.col("n_dbg"), F.lit(0)).cast("long")
    top_pm = _idivc(F.col("top_c") * F.lit(1000), F.col("n_words"))
    dup_pm = F.when(
        n_bg > 0, _idivc((n_bg - n_dbg) * F.lit(1000), n_bg)
    ).otherwise(F.lit(0).cast("long"))
    return j.select(
        id_col,
        F.col("n_words"),
        top_pm.alias("top_word_permille"),
        dup_pm.alias("dup_bigram_permille"),
        ((top_pm >= 150) | (dup_pm >= 100)).cast("long").alias("repetitive"),
    )


BLOOM_SALTS = (0, 271_828_182, 141_421_356, 577_215_664)  # one per hash fn


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    m_bits: int = 1 << 16,
    k: int = 3,
    min_hits: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Memory-bounded twin of `decontaminate`: the benchmark's n-gram
    set is summarized as a Bloom filter — the k hash positions each
    gram occupies in an m_bits-slot table — so the broadcast side is
    AT MOST m_bits rows no matter how many grams the benchmark holds.
    `decontaminate` broadcasts the distinct grams themselves, which is
    right while benchmarks are small; when the held-out set is itself
    web-scale (dedup-against-another-crawl, multi-benchmark unions),
    the Bloom side stays bounded and only the false-positive rate
    ((k·B/m)^k for B benchmark grams) moves.

    -> (id, bloom_hits, bloom_contaminated): per corpus doc, how many
    of its distinct grams the filter claims are in the benchmark
    (bloom_hits >= the exact count ALWAYS — Bloom filters have no
    false negatives — asserted in tests), and the >= min_hits verdict.

    Deterministic integer hashing end to end (rolling string
    fingerprint -> k salted mixes), so the filter's bit pattern — and
    therefore every false positive — is bit-identical across engines,
    partitionings, and cluster sizes: the driver oracle-checks the
    approximate operator exactly, same contract as the sketches.
    """
    from ariadne_spark.functions.sketch import M31, mix_col, rolling_fp_col

    assert k <= len(BLOOM_SALTS), f"at most {len(BLOOM_SALTS)} hash fns"

    def positions(fp: Column) -> list[Column]:
        return [
            _idivc(mix_col(fp + F.lit(BLOOM_SALTS[j])) * F.lit(m_bits), F.lit(M31))
            for j in range(k)
        ]

    # materialize the 64-op fingerprint ONCE per gram stream: inlining
    # it into each of the k position expressions would evaluate the
    # whole chain k times per gram (Catalyst does not CSE across
    # projection expressions) — measured 19.6 s -> ~6 s at sf0.1
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(text_col, n)).alias("gram"))
        .distinct()
        .select(rolling_fp_col(F.col("gram")).alias("fpv"))
    )
    bloom = (
        bench_grams.select(
            F.explode(F.array(*positions(F.col("fpv")))).alias("pos")
        )
        .distinct()
        .withColumn("present", F.lit(1).cast("long"))
    )

    cg = (
        corpus.select(
            F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram")
        )
        .distinct()
        .select(id_col, "gram", rolling_fp_col(F.col("gram")).alias("fpv"))
    )
    probe = cg.select(
        id_col, "gram", F.explode(F.array(*positions(F.col("fpv")))).alias("pos")
    )
    per_gram = (
        probe.join(F.broadcast(bloom), "pos", "left")
        .groupBy(id_col, "gram")
        .agg((F.sum(F.coalesce("present", F.lit(0))) == F.lit(k)).alias("hit"))
    )
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum(F.col("hit").cast("long")).alias("bloom_hits")
    )
    base = corpus.select(id_col).join(per_doc, id_col, "left")
    hits = F.coalesce(F.col("bloom_hits"), F.lit(0)).cast("long")
    return base.select(
        id_col,
        hits.alias("bloom_hits"),
        (hits >= min_hits).cast("long").alias("bloom_contaminated"),
    )


def bloom_decontaminate_sql(
    n: int = 4,
    m_bits: int = 1 << 16,
    k: int = 3,
    min_hits: int = 3,
    bench_mod: int = 10,
) -> str:
    """DuckDB oracle for bloom_decontaminate() with benchmark =
    documents where doc_id % bench_mod == 0 (the driver-entry split)."""
    from ariadne_spark.functions.sketch import M31, mix_sql, rolling_fp_sql

    g = sql_word_ngrams("text", n)
    # the 64-op rolling fingerprint materializes ONCE per gram stream
    # (bfp/cfp CTEs); only the cheap salted mixes expand per hash fn
    fp = rolling_fp_sql("gram")
    bpos = " UNION ALL ".join(
        f"SELECT (({mix_sql(f'fpv + {BLOOM_SALTS[j]}')}) * {m_bits})"
        f" // {M31} AS pos FROM bfp"
        for j in range(k)
    )
    return f"""
        WITH all_grams AS (
          SELECT doc_id, unnest({g}) AS gram FROM documents),
        bgrams AS (
          SELECT DISTINCT gram FROM all_grams WHERE doc_id % {bench_mod} = 0),
        bfp AS (SELECT ({fp}) AS fpv FROM bgrams),
        bloom_pos AS (SELECT DISTINCT pos FROM ({bpos})),
        cgrams AS (
          SELECT DISTINCT doc_id, gram FROM all_grams
          WHERE doc_id % {bench_mod} <> 0),
        cfp AS (SELECT doc_id, gram, ({fp}) AS fpv FROM cgrams),
        cpos AS ({" UNION ALL ".join(
            f"SELECT doc_id, gram, (({mix_sql(f'fpv + {BLOOM_SALTS[j]}')})"
            f" * {m_bits}) // {M31} AS pos FROM cfp"
            for j in range(k))}),
        per_gram AS (
          SELECT doc_id, gram,
                 CAST(sum(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) = {k}
                      AS BIGINT) AS hit
          FROM cpos LEFT JOIN bloom_pos b USING (pos)
          GROUP BY doc_id, gram),
        per_doc AS (
          SELECT doc_id, CAST(sum(hit) AS BIGINT) AS bloom_hits
          FROM per_gram GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(bloom_hits, 0) AS BIGINT) AS bloom_hits,
               CAST(coalesce(bloom_hits, 0) >= {min_hits} AS BIGINT)
                 AS bloom_contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % {bench_mod} <> 0) d
        LEFT JOIN per_doc USING (doc_id)
    """


def dup_ngram_coverage(
    docs: DataFrame, n: int = 4, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (id, n_grams, n_dup_grams, dup_gram_permille) per document:
    the CROSS-document twin of `repetition_stats` (which is
    intra-document) — what fraction of a doc's distinct word n-grams
    also appear in at least one OTHER document (RefinedWeb-style
    boilerplate/duplication signal, arXiv:2306.01116 §G: "fraction of
    characters in duplicated n-grams"; here gram-granular and integer
    permille so both engines agree bit-for-bit).

    Plan shape at any scale: explode distinct per-doc grams, one hash
    agg for distinct-doc counts per gram, one equi-join back keyed by
    gram, one per-doc agg — everything linear in total gram count with
    map-side partial aggregation; nothing pairwise. Docs with < n
    words have zero grams and report (0, 0, 0).
    """
    grams = docs.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram")
    ).distinct()
    ndocs = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("ndocs"))
    per_doc = (
        grams.join(ndocs, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("ndocs") >= 2).cast("long")).cast("long").alias("n_dup_grams"),
        )
    )
    base = docs.select(id_col).join(per_doc, id_col, "left")
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    n_dup = F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long")
    pm = F.when(n_grams > 0, _idivc(n_dup * F.lit(1000), n_grams)).otherwise(
        F.lit(0).cast("long")
    )
    return base.select(
        id_col,
        n_grams.alias("n_grams"),
        n_dup.alias("n_dup_grams"),
        pm.alias("dup_gram_permille"),
    )


def dup_ngram_coverage_sql(n: int = 4) -> str:
    """DuckDB oracle for dup_ngram_coverage() over the documents view."""
    g = sql_word_ngrams("text", n)
    return f"""
        WITH g AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id, unnest({g}) AS gram FROM documents)),
        c AS (SELECT gram, count(*) AS ndocs FROM g GROUP BY gram),
        p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_dup_grams
              FROM g JOIN c USING (gram) GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
               CASE WHEN coalesce(n_grams, 0) > 0
                    THEN (coalesce(n_dup_grams, 0) * 1000) // n_grams
                    ELSE 0 END AS dup_gram_permille
        FROM (SELECT doc_id FROM documents) d LEFT JOIN p USING (doc_id)
    """


def _covered_positions(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """-> distinct (id, p): 1-based token positions inside at least one
    CROSS-document duplicated word n-gram — the covered-position union
    shared by the coverage metric (`token_dup_coverage`) and the
    removal transform (`strip_dup_spans`), kept in one place so their
    semantics can never drift apart. Linear plan: posexplode windows ->
    hash-agg cross-doc gram set -> one gram-keyed equi-join -> explode
    each duplicated window's n positions -> distinct."""
    wins = docs.select(
        F.col(id_col),
        F.posexplode(word_ngrams(text_col, n)).alias("i0", "gram"),
    )
    dup = (
        wins.select(id_col, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    return (
        wins.join(dup, "gram")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("i0") + 1, F.col("i0") + F.lit(n))
            ).alias("p"),
        )
        .distinct()
    )


def _covered_positions_ctes(n: int) -> str:
    """DuckDB twin of `_covered_positions` as the shared CTE prefix
    (ws/wins/dup/cov) used by both oracle builders."""
    return f"""
        ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        wins AS (
          SELECT doc_id, i, array_to_string(w[i:i+{n - 1}], ' ') AS gram
          FROM ws, UNNEST(CASE WHEN len(w) >= {n}
                               THEN range(1, len(w) - {n - 2})
                               ELSE [] END) AS t(i)),
        dup AS (
          SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM wins)
          GROUP BY gram HAVING count(*) >= 2),
        cov AS (
          SELECT DISTINCT doc_id, p
          FROM wins JOIN dup USING (gram),
               UNNEST(range(i, i + {n})) AS u(p))"""


def token_dup_coverage(
    docs: DataFrame, n: int = 4, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (id, n_words, dup_tokens, token_dup_permille): the
    position-level duplication metric — what fraction of a document's
    TOKENS sit inside at least one cross-document duplicated word
    n-gram (RefinedWeb's 'fraction of characters in duplicated
    n-grams', arXiv:2306.01116 §G, at token granularity). Finer than
    `dup_ngram_coverage`: overlapping duplicated windows union their
    positions instead of double-counting grams, so a doc whose whole
    body is one long shared passage reports ~1000 permille however
    many windows the passage spans.

    Plan: posexplode windows -> hash-agg for the cross-doc gram set ->
    one gram-keyed equi-join -> explode each duplicated window's n
    covered positions -> distinct + per-doc count. Work is linear in
    total windows plus n x duplicated windows; nothing pairwise. The
    interval union is exact (distinct positions), not an
    approximation.
    """
    ws_len = F.size(F.split(F.col(text_col), " ")).cast("long")
    cov = _covered_positions(docs, n, id_col, text_col)
    per_doc = cov.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("dup_tokens"))
    base = docs.select(id_col, ws_len.alias("n_words")).join(per_doc, id_col, "left")
    dt = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    return base.select(
        id_col,
        "n_words",
        dt.alias("dup_tokens"),
        _idivc(dt * F.lit(1000), F.col("n_words")).alias("token_dup_permille"),
    )


def token_dup_coverage_sql(n: int = 4) -> str:
    """DuckDB oracle for token_dup_coverage() over the documents view.
    Windows enumerate via LATERAL UNNEST over a per-row range — same
    1-based positions as the Spark posexplode+sequence form."""
    return f"""
        WITH {_covered_positions_ctes(n)},
        per_doc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_tokens
          FROM cov GROUP BY doc_id)
        SELECT d.doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
               (coalesce(dup_tokens, 0) * 1000)
                   // len(string_split(text, ' ')) AS token_dup_permille
        FROM documents d LEFT JOIN per_doc USING (doc_id)
    """


def strip_dup_spans(
    docs: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span: int | None = None,
) -> DataFrame:
    """-> (id, n_words, kept_tokens, clean_text): REWRITE each document
    with every token inside a cross-document duplicated word n-gram
    removed — the transform counterpart of `token_dup_coverage`'s
    metric (ExactSubstr-style dedup, Lee et al. 2022 arXiv:2107.06499,
    word-granular). A document that is entirely shared passage comes
    back empty; surviving tokens keep their original order.

    `min_span` reproduces the paper's length threshold (they remove
    only duplicated substrings of >= 50 tokens): covered positions are
    grouped into MAXIMAL consecutive runs per document (gaps-and-
    islands: run id = p - rank(p), a per-doc window) and only runs of
    at least `min_span` tokens are removed — short incidental overlaps
    survive. None (default) removes every covered token (any covered
    run is >= n long by construction, so min_span <= n is a no-op).

    Plan shape (linear, nothing pairwise): the covered-position set is
    the same explode + gram-keyed equi-join as token_dup_coverage; the
    rewrite is one posexplode of words, a left-anti join against the
    covered positions, and one per-doc hash agg whose reassembly
    (sort_array over (pos, word) structs -> array_join) is entirely
    JVM-side — no Python, deterministic at any parallelism. The
    min_span window partitions by document, so its state is bounded by
    document length like every other per-doc stage.

    Reference analog: ariadne drops the duplicated construct and keeps
    the remainder when re-indexing a changed file (delete-then-insert,
    `packages/core/src/resolve_references/registries/definition.ts:99-103`).
    """
    cov = _covered_positions(docs, n, id_col, text_col)
    if min_span is not None and min_span > n:
        from pyspark.sql.window import Window

        run = (
            F.col("p")
            - F.row_number().over(Window.partitionBy(id_col).orderBy("p"))
        ).alias("run")
        runs = cov.select(id_col, "p", run)
        big = (
            runs.groupBy(id_col, "run")
            .agg(F.count(F.lit(1)).alias("__len"))
            .where(F.col("__len") >= min_span)
            .select(id_col, "run")
        )
        cov = runs.join(big, [id_col, "run"]).select(id_col, "p")
    words = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("i0", "word"),
    ).select(id_col, (F.col("i0") + 1).alias("p"), "word")
    kept = (
        words.join(cov, [id_col, "p"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("kept_tokens"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("p"), F.col("word")))
                    ),
                    lambda x: x["word"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    ws_len = F.size(F.split(F.col(text_col), " ")).cast("long")
    return (
        docs.select(id_col, ws_len.alias("n_words"))
        .join(kept, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("long").alias(
                "kept_tokens"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def strip_dup_spans_sql(n: int = 4, min_span: int | None = None) -> str:
    """DuckDB oracle for strip_dup_spans() over the documents view —
    byte-identical clean_text (string_agg ORDER BY position rebuilds
    the same single-space join as Spark's sort_array + array_join)."""
    if min_span is not None and min_span > n:
        cov_final = f"""
        runs AS (
          SELECT doc_id, p,
                 p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
                   AS run
          FROM cov),
        big AS (
          SELECT doc_id, run FROM runs
          GROUP BY doc_id, run HAVING count(*) >= {min_span}),
        cov2 AS (
          SELECT runs.doc_id, runs.p FROM runs JOIN big USING (doc_id, run)),"""
        cov_name = "cov2"
    else:
        cov_final = ""
        cov_name = "cov"
    return f"""
        WITH {_covered_positions_ctes(n)},{cov_final}
        words AS (
          SELECT doc_id, i AS p, w[i] AS word
          FROM ws, UNNEST(range(1, len(w) + 1)) AS t(i)),
        kept AS (
          SELECT wd.doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
                 string_agg(wd.word, ' ' ORDER BY wd.p) AS clean_text
          FROM words wd LEFT JOIN {cov_name} cv
            ON wd.doc_id = cv.doc_id AND wd.p = cv.p
          WHERE cv.p IS NULL
          GROUP BY wd.doc_id)
        SELECT d.doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens,
               coalesce(clean_text, '') AS clean_text
        FROM documents d LEFT JOIN kept USING (doc_id)
    """


def decontaminate_sql(n: int = 4, min_hits: int = 3, bench_mod: int = 10) -> str:
    """DuckDB oracle for decontaminate() with benchmark =
    documents where doc_id % bench_mod == 0 (the driver-entry split)."""
    g = sql_word_ngrams("text", n)
    return f"""
        WITH g AS (
          SELECT doc_id, unnest({g}) AS gram FROM documents),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {bench_mod} = 0),
        dg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % {bench_mod} <> 0),
        hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                 FROM dg JOIN bench USING (gram) GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(n, 0) AS BIGINT) AS n_contaminated_grams,
               CAST(coalesce(n, 0) >= {min_hits} AS BIGINT) AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % {bench_mod} <> 0) d
        LEFT JOIN hits USING (doc_id)
    """


def repetition_stats_sql() -> str:
    """DuckDB oracle for repetition_stats() over the documents view."""
    g2 = sql_word_ngrams("text", 2)
    return f"""
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents),
        uni AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
        u AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                     CAST(max(c) AS BIGINT) AS top_c
              FROM uni GROUP BY doc_id),
        bgr AS (SELECT doc_id, unnest({g2}) AS bigram FROM documents),
        b AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
                     CAST(count(DISTINCT bigram) AS BIGINT) AS n_dbg
              FROM bgr GROUP BY doc_id),
        m AS (SELECT u.doc_id, n_words,
                     (top_c * 1000) // n_words AS top_pm,
                     CASE WHEN coalesce(n_bg, 0) > 0
                          THEN ((coalesce(n_bg, 0) - coalesce(n_dbg, 0)) * 1000)
                               // coalesce(n_bg, 0)
                          ELSE 0 END AS dup_pm
              FROM u LEFT JOIN b ON u.doc_id = b.doc_id)
        SELECT doc_id, n_words,
               CAST(top_pm AS BIGINT) AS top_word_permille,
               CAST(dup_pm AS BIGINT) AS dup_bigram_permille,
               CAST(top_pm >= 150 OR dup_pm >= 100 AS BIGINT) AS repetitive
        FROM m
    """


def build_vocab(
    docs: DataFrame, size: int, text_col: str = "text"
) -> DataFrame:
    """-> (word, n, vrank): the top-`size` corpus words by frequency —
    tokenizer vocabulary induction. Deterministic: ties break on the
    word itself. Physical shape: one explode + hash groupBy (map-side
    combinable), then TakeOrderedAndProject (per-partition top-size,
    merged on the driver-side heap) — never a full global sort, and
    the result is vocab-sized, so it broadcasts downstream.

    Reference analog: the per-language capture-name enums the
    reference induces its handler registries from
    (`packages/core/src/index_single_file/index_single_file.ts:301-379`
    validates captures against a fixed vocabulary of construct names).
    """
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(size)
    )
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    return counts.withColumn("vrank", F.row_number().over(w).cast("long"))


def oov_stats(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (id, n_tokens, n_oov, oov_permille) per document: tokenizer
    coverage — how much of each document the induced vocabulary fails
    to cover (the gate a pipeline runs before committing to a vocab).
    The vocab is top-V by construction, so it BROADCASTS to the
    semi-join; corpus cost is one explode + two per-doc hash aggs.
    Integer permille, DuckDB-parity-exact."""
    w = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    )
    tot = w.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    inv = (
        w.join(F.broadcast(vocab.select("word")), "word", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_in"))
    )
    j = tot.join(inv, id_col, "left")
    n_in = F.coalesce(F.col("n_in"), F.lit(0)).cast("long")
    n_oov = (F.col("n_tokens") - n_in).alias("n_oov")
    return j.select(
        id_col,
        "n_tokens",
        n_oov,
        _idivc((F.col("n_tokens") - n_in) * F.lit(1000), F.col("n_tokens")).alias(
            "oov_permille"
        ),
    )


def vocab_sql(size: int) -> str:
    """DuckDB twin of build_vocab over the documents view."""
    return f"""
        SELECT word, n,
               CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS vrank
        FROM (SELECT word, CAST(count(*) AS BIGINT) AS n
              FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              GROUP BY word ORDER BY n DESC, word LIMIT {size})
    """


def oov_sql(size: int) -> str:
    """DuckDB twin of oov_stats(docs, build_vocab(docs, size))."""
    return f"""
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents),
        v AS (SELECT word FROM (
                SELECT word, count(*) AS n FROM w GROUP BY word
                ORDER BY n DESC, word LIMIT {size})),
        tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
                FROM w GROUP BY doc_id),
        inv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_in
                FROM w JOIN v USING (word) GROUP BY doc_id)
        SELECT t.doc_id, n_tokens,
               n_tokens - coalesce(n_in, 0) AS n_oov,
               ((n_tokens - coalesce(n_in, 0)) * 1000) // n_tokens
                   AS oov_permille
        FROM tot t LEFT JOIN inv ON t.doc_id = inv.doc_id
    """


def curate_multimodal(
    docs: DataFrame,
    embeddings: DataFrame,
    quality_min: int = 70,
    sem_threshold_q: int = 850_000,
) -> DataFrame:
    """-> (doc_id, kept, reason, sem_checked): one-call corpus
    disposition over BOTH modalities — the composition a pipeline user
    runs, with a mutually-exclusive drop reason per document (first
    failing stage wins, so the output doubles as a funnel report;
    sem_checked=false marks docs stage 4 never examined — earlier-stage
    drops and survivors with no embedding row, which stay kept but are
    NOT semantically deduped):

      1. exact_dup     md5(text) hash dedup, min-id canonical
      2. neardup_fp    16-char rolling-fingerprint dedup (boilerplate)
      3. low_quality   q23-style integer quality score < quality_min
      4. sem_dup       SemDeDup over the document's embedding
                       (embeddings joined on vec_id == doc_id)
      5. kept

    Stages 1-3 are hash groupBys + column expressions (linear at any
    scale, q41's shapes); stage 4 runs only on stage-1..3 survivors,
    so the k-means/pairwise cost shrinks with upstream selectivity.
    Deterministic end to end (min-id canonicals, integer gates,
    semdedup's parallelism-invariance contract).

    Reference analog: `Project.update_file`'s fixed stage dataflow —
    each phase consumes the previous phase's survivors
    (`packages/core/src/project/project.ts:241-393`).
    """
    from ariadne_spark.operators.semdedup import semdedup

    d = docs.select("doc_id", "text", "n_chars")

    # stage 1: exact dedup (md5, min doc_id canonical)
    k1 = d.withColumn("k", F.md5("text"))
    c1 = k1.groupBy("k").agg(F.min("doc_id").alias("canon"))
    s1 = k1.join(c1, "k").withColumn("exact_dup", F.col("doc_id") != F.col("canon"))

    # stage 2: prefix-fingerprint dedup among stage-1 survivors — the
    # SAME modulus as the q41/q25 rolling fingerprint (sketch.M31 =
    # 2^31; a local 2^31-1 here used to make the funnel's neardup_fp
    # stage silently disagree with the driver query it claims to share)
    from ariadne_spark.functions.sketch import M31

    fp = F.lit(0).cast("long")
    for i in range(1, 17):
        fp = (fp * F.lit(31) + F.ascii(F.substring(F.col("text"), i, 1))) % F.lit(M31)
    surv1 = s1.where(~F.col("exact_dup")).withColumn("fp", fp)
    c2 = surv1.groupBy("fp").agg(F.min("doc_id").alias("fcanon"))
    s2 = surv1.join(c2, "fp").withColumn("fp_dup", F.col("doc_id") != F.col("fcanon"))

    # stage 3: quality gate (q23's integer score) — word count via the
    # canonical helper so the token law cannot silently diverge here
    text = F.col("text")
    words = ws_token_count("text")
    the_count = _idivc(
        (F.length(text) - F.length(F.replace(text, F.lit("the"), F.lit("")))).cast(
            "long"
        ),
        F.lit(3),
    )
    quality = (
        F.when(words >= 20, F.lit(40)).otherwise(F.lit(0))
        + F.when((the_count * 100) <= words * 20, F.lit(30)).otherwise(F.lit(0))
        + F.when(F.col("n_chars") >= 200, F.lit(30)).otherwise(F.lit(0))
    ).cast("long")
    s3 = s2.where(~F.col("fp_dup")).withColumn("low_q", quality < quality_min)

    # stage 4: semantic dedup over the survivors' embeddings. A
    # survivor with NO embedding row cannot be checked — it stays kept
    # (dropping 'no vector' docs would be a different policy decision)
    # but the skip is SURFACED as sem_checked=false in the output, so
    # partially-embedded corpora (sf0.1: 3000 of 5000 docs have no
    # vector) can never read as "semantically deduped" when stage 4
    # never examined them.
    surv3 = s3.where(~F.col("low_q")).select("doc_id")
    emb = embeddings.select(
        F.col("vec_id").alias("doc_id"), "embedding"
    ).join(surv3, "doc_id", "left_semi").select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    sem = semdedup(emb, threshold_q=sem_threshold_q).select(
        F.col("vec_id").alias("doc_id"),
        (F.col("keep") == 0).alias("sem_dup"),
        F.lit(True).alias("sem_checked"),
    )

    # assemble the funnel: first failing stage wins
    disp = (
        d.select("doc_id")
        .join(s1.select("doc_id", "exact_dup"), "doc_id", "left")
        .join(s2.select("doc_id", "fp_dup"), "doc_id", "left")
        .join(s3.select("doc_id", "low_q"), "doc_id", "left")
        .join(sem, "doc_id", "left")
    )
    reason = (
        F.when(F.coalesce("exact_dup", F.lit(False)), F.lit("exact_dup"))
        .when(F.coalesce("fp_dup", F.lit(False)), F.lit("neardup_fp"))
        .when(F.coalesce("low_q", F.lit(False)), F.lit("low_quality"))
        .when(F.coalesce("sem_dup", F.lit(False)), F.lit("sem_dup"))
        .otherwise(F.lit("kept"))
    )
    return disp.select(
        "doc_id",
        (reason == "kept").cast("long").alias("kept"),
        reason.alias("reason"),
        # false = stage 4 never saw this doc: either it fell at an
        # earlier stage, or it survived but has no embedding row
        F.coalesce("sem_checked", F.lit(False)).alias("sem_checked"),
    )


def pack_sequences(
    df: DataFrame,
    tokens: Column,
    ctx: int,
    pack_cols: list[str],
    order_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing: within each pack group, documents
    concatenate into one token stream (in `order_col` order) that is
    sliced into fixed `ctx`-token context windows — documents SPLIT
    across window boundaries, exactly as LLM pretraining loaders pack
    (concat-then-chunk). Returns, per document, where its tokens land:

      (pack_cols..., order_col, tokens, start_tok, first_bin,
       last_bin, n_bins)

    start_tok is the document's offset in the group stream; a doc
    spans bins floor(start/ctx) .. floor((start+tokens-1)/ctx).

    INPUT CONTRACT: tokens >= 1 per document (a 0-token doc at a
    window boundary would make start+tokens-1 negative, where Spark's
    `%` truncates toward zero but DuckDB's `//` floors — the engines
    would disagree). Filter empty docs upstream; every tokenizer in
    this repo yields >= 1. Additionally each shard's TOTAL token
    stream must stay below 2^53 (the bin math floor-divides via exact
    float64 division, which is only exact up to 2^53; DuckDB's //
    stays exact in int128 and would diverge past that) — at the
    prescribed sharding (~10^6-7 docs/shard) that bound has ~6 orders
    of magnitude of headroom.

    One window per pack group (SUM OVER unbounded-preceding) is the
    whole plan — a single hash-partition shuffle on pack_cols, then
    per-partition cumulative sums; everything else is column math.
    SCALE: window-partition size == pack-group size, so at 10^12 docs
    the caller bounds groups with a deterministic shard key in
    pack_cols (e.g. `doc_id % n_shards` or a content fingerprint
    bucket — data-derived, so results are cluster-size-invariant per
    the repo rule). Each shard is an independent token stream; loaders
    consume shards independently, which is also how they parallelize
    reads.

    Reference analog: ariadne's file -> ordered-definition layout that
    assigns every symbol a contiguous range in its file's stream
    (`packages/core/src/index_single_file/index_single_file.ts:98`);
    here the "file" is a pack shard and the range is token offsets.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*pack_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = tokens.cast("long")
    base = df.select(*pack_cols, order_col, t.alias("tokens"))
    cum = base.select(
        *pack_cols,
        order_col,
        "tokens",
        (F.sum("tokens").over(w) - F.col("tokens")).alias("start_tok"),
    )
    first_bin = _idivc(F.col("start_tok"), F.lit(ctx))
    last_bin = _idivc(F.col("start_tok") + F.col("tokens") - 1, F.lit(ctx))
    return cum.select(
        *pack_cols,
        order_col,
        "tokens",
        "start_tok",
        first_bin.alias("first_bin"),
        last_bin.alias("last_bin"),
        (last_bin - first_bin + 1).alias("n_bins"),
    )


def curate_images(
    images: DataFrame,
    min_pixels: int = 256,
    ar_max: int = 4,
    max_hamming: int = 6,
    k: int = 5,
) -> DataFrame:
    """-> (image_id, kept, reason): one-call image-corpus disposition —
    the image-axis twin of `curate_multimodal`, with a mutually-
    exclusive drop reason per image (first failing stage wins, so the
    output doubles as a funnel report):

      1. bad_format   fmt outside the codec registry, or NULL in any
                      column a later stage reads (bytes/w/h/phash/
                      lon_u/lat_u)
      2. too_small    w*h < min_pixels
      3. bad_aspect   w > ar_max*h or h > ar_max*w
      4. exact_dup    md5(bytes) hash dedup, min-id canonical
      5. phash_dup    perceptual near-dup: knn_edges pairs at
                      hamming <= max_hamming -> dup_clusters connected
                      components -> min-id canonical per cluster
      6. kept

    Stages 1-4 are column expressions + one hash groupBy (linear at
    any scale; no decode — fmt/w/h/bytes-hash gates read metadata and
    bytes once). Stage 5 runs only on stage-1..4 survivors and reuses
    the banded-LSH x k-ring kNN join (cost shapes in docs/SCALE.md),
    then connected components so transitive near-dups (A~B~C) collapse
    to ONE canonical even when (A,C) was never a pair. Deterministic
    end to end: min-id canonicals, integer gates, knn/cluster
    parallelism-invariance contracts.

    Reference analog: `Project.update_file`'s fixed stage dataflow —
    each phase consumes the previous phase's survivors
    (`packages/core/src/project/project.ts:241-393`).
    """
    from ariadne_spark.functions.codecs import CODECS
    from ariadne_spark.operators.dedup import dup_clusters
    from ariadne_spark.operators.knn import knn_edges

    fmts = sorted(CODECS.keys())
    base = images.select("image_id", "bytes", "w", "h", "fmt", "lon_u", "lat_u", "phash")

    # NULL-safe fail-closed gate: a NULL in ANY column a later stage
    # reads must land in bad_format, not slip past every gate to
    # 'kept' (isin/comparisons on NULL yield NULL, which
    # `where(~flag)` would drop from the dup stages while the reason
    # coalesce fell through to 'kept'). That includes stage 5's
    # inputs: a NULL phash/lon_u/lat_u row emits no kNN pairs, so it
    # would silently skip near-dup detection.
    meta_ok = (
        F.col("fmt").isin(fmts)
        & F.col("bytes").isNotNull()
        & F.col("w").isNotNull()
        & F.col("h").isNotNull()
        & F.col("phash").isNotNull()
        & F.col("lon_u").isNotNull()
        & F.col("lat_u").isNotNull()
    )
    s1 = base.withColumn("bad_format", ~F.coalesce(meta_ok, F.lit(False)))
    s2 = s1.withColumn(
        "too_small",
        (~F.col("bad_format"))
        & (F.col("w").cast("long") * F.col("h").cast("long") < min_pixels),
    )
    s3 = s2.withColumn(
        "bad_aspect",
        (~F.col("bad_format"))
        & (~F.col("too_small"))
        & (
            (F.col("w") > F.lit(ar_max) * F.col("h"))
            | (F.col("h") > F.lit(ar_max) * F.col("w"))
        ),
    )

    surv3 = s3.where(
        ~F.col("bad_format") & ~F.col("too_small") & ~F.col("bad_aspect")
    )
    keyed = surv3.withColumn("kmd5", F.md5("bytes"))
    canon = keyed.groupBy("kmd5").agg(F.min("image_id").alias("canon"))
    s4 = keyed.join(canon, "kmd5").withColumn(
        "exact_dup", F.col("image_id") != F.col("canon")
    )

    surv4 = s4.where(~F.col("exact_dup"))
    pairs = knn_edges(surv4, k=k, max_hamming=max_hamming).select(
        "src_image_id", "dst_image_id"
    )
    clusters = dup_clusters(pairs, "src_image_id", "dst_image_id").select(
        F.col("doc_id").alias("image_id"),
        (F.col("doc_id") != F.col("cluster_id")).alias("phash_dup"),
    )

    # s3 already holds exactly one row per image with all three flags —
    # start the disposition there (joining base back would be an
    # identity self-join: one extra corpus-wide shuffle for nothing).
    disp = (
        s3.select("image_id", "bad_format", "too_small", "bad_aspect")
        .join(s4.select("image_id", "exact_dup"), "image_id", "left")
        .join(clusters, "image_id", "left")
    )
    reason = (
        F.when(F.coalesce("bad_format", F.lit(False)), F.lit("bad_format"))
        .when(F.coalesce("too_small", F.lit(False)), F.lit("too_small"))
        .when(F.coalesce("bad_aspect", F.lit(False)), F.lit("bad_aspect"))
        .when(F.coalesce("exact_dup", F.lit(False)), F.lit("exact_dup"))
        .when(F.coalesce("phash_dup", F.lit(False)), F.lit("phash_dup"))
        .otherwise(F.lit("kept"))
    )
    return disp.select(
        "image_id",
        (reason == "kept").cast("long").alias("kept"),
        reason.alias("reason"),
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    fp: Column,
    granularity: int = 1000,
) -> DataFrame:
    """Temperature-0.5 domain rebalancing (GLaM/Pile-style mixture
    flattening): keep each row of domain s with probability
    ~ sqrt(c_min / c_s), so kept counts are proportional to
    sqrt(c_s) — overrepresented domains flatten, the smallest domain
    keeps everything.

    RNG-free and integer-exact: the keep decision is
    fpb^2 * c_s < granularity^2 * c_min with fpb = fp % granularity
    (`fp` any non-negative deterministic content fingerprint) — the
    square of `fpb < granularity * sqrt(c_min/c_s)` with no float
    sqrt, so the kept SET is bit-identical across engines, runs, and
    cluster sizes, and a re-crawl of the same text lands on the same
    side. Overflow-safe while granularity^2 * c_s < 2^63 (permille
    granularity -> domains up to ~9e12 rows).

    Plan: per-domain counts (hash agg) broadcast back onto the scan —
    one linear pass, no shuffle of the corpus itself. Returns kept
    rows plus (c_group, fpb) so the caller can audit rates.
    """
    g2 = granularity * granularity
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("c_group"))
    cmin = counts.agg(F.min("c_group").alias("c_min"))
    return (
        df.withColumn("fpb", fp % F.lit(granularity))
        .join(F.broadcast(counts), group_col)
        .crossJoin(F.broadcast(cmin))
        .where(
            F.col("fpb") * F.col("fpb") * F.col("c_group")
            < F.lit(g2) * F.col("c_min")
        )
        .drop("c_min")
    )


def temperature_sample_sql(
    table_sql: str,
    group_col: str,
    fp_sql: str,
    select_cols: list[str],
    granularity: int = 1000,
) -> str:
    """DuckDB twin of `temperature_sample` (same kept set)."""
    g2 = granularity * granularity
    cols = ", ".join(select_cols)
    return f"""
        WITH base AS (
          SELECT *, ({fp_sql}) % {granularity} AS fpb FROM {table_sql}),
        counts AS (
          SELECT {group_col}, count(*) AS c_group FROM base GROUP BY {group_col}),
        cmin AS (SELECT min(c_group) AS c_min FROM counts)
        SELECT {cols}, CAST(c_group AS BIGINT) AS c_group, fpb
        FROM base JOIN counts USING ({group_col}), cmin
        WHERE fpb * fpb * c_group < {g2} * c_min
    """


def pack_greedy(
    df: DataFrame,
    tokens: Column,
    ctx: int,
    pack_cols: list[str],
    order_col: str = "doc_id",
) -> DataFrame:
    """Non-splitting sequence packing: documents fill a ctx-token bin
    in `order_col` order and a NEW bin opens when the next document
    would overflow — no document crosses a bin boundary (the
    finetuning/eval layout, where example boundaries are semantic;
    `pack_sequences` is the pretraining concat-then-chunk layout).
    Documents longer than ctx get a bin of their own (and overflow it —
    callers gate those upstream). Returns
    (pack_cols..., order_col, tokens, bin_id, bin_fill) where bin_fill
    is the bin's running token count AFTER this document.

    Bin assignment is inherently sequential within a shard (each
    decision depends on the previous fill), so it runs as ONE
    applyInPandas pass per pack group — a vectorized-enough numpy loop
    over that shard's (already sorted) docs; the parallelism unit is
    the shard, same knob and same determinism argument as
    `pack_sequences` (data-derived shard key -> bit-identical layout
    at any cluster size).
    """
    import pandas as pd

    types = dict(df.dtypes)
    schema_parts = [f"{c} {types[c]}" for c in [*pack_cols, order_col]]
    schema_parts += ["tokens long", "bin_id long", "bin_fill long"]
    out_schema = ", ".join(schema_parts)

    base = df.select(*pack_cols, order_col, tokens.cast("long").alias("tokens"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        toks = pdf["tokens"].to_numpy()
        bin_id = [0] * len(toks)
        bin_fill = [0] * len(toks)
        b, fill = 0, 0
        for i, t in enumerate(toks):
            if fill > 0 and fill + t > ctx:
                b, fill = b + 1, 0
            fill += int(t)
            bin_id[i], bin_fill[i] = b, fill
        pdf["bin_id"] = bin_id
        pdf["bin_fill"] = bin_fill
        return pdf

    return base.groupBy(*pack_cols).applyInPandas(pack, out_schema)


def pack_boundaries(
    df: DataFrame,
    tokens: Column,
    ctx: int,
    pack_cols: list[str],
    order_col: str = "doc_id",
) -> DataFrame:
    """-> (pack_cols..., bin, order_col, start_in_bin, frag_len): the
    per-window DOCUMENT-BOUNDARY index for `pack_sequences`' layout —
    one row per (context window, document fragment), saying which slice
    of each window belongs to which document. This is the metadata a
    packed-pretraining loader needs to reset attention / mask loss at
    document boundaries inside a window (e.g. block-diagonal attention
    over packed sequences); without it the windows are opaque token
    runs.

    Derivation is pure column math over pack_sequences' per-doc stream
    positions plus one explode over each doc's first_bin..last_bin
    range — fanout equals the true fragment count (docs + window
    crossings), so cost stays linear in windows. Per (group, bin) the
    fragments tile [0, ctx) exactly (the trailing bin tiles up to the
    stream end) — asserted in tests.
    """
    p = pack_sequences(df, tokens, ctx, pack_cols, order_col)
    out = p.select(
        *pack_cols,
        order_col,
        "tokens",
        "start_tok",
        F.explode(
            F.sequence(F.col("first_bin"), F.col("last_bin"))
        ).alias("bin"),
    )
    gs = F.col("bin").cast("long") * F.lit(ctx)
    frag_start = F.greatest(F.col("start_tok"), gs)
    frag_end = F.least(F.col("start_tok") + F.col("tokens"), gs + F.lit(ctx))
    return out.select(
        *pack_cols,
        "bin",
        order_col,
        (frag_start - gs).cast("long").alias("start_in_bin"),
        (frag_end - frag_start).cast("long").alias("frag_len"),
    )


def pack_boundaries_sql(
    table_sql: str,
    tokens_sql: str,
    ctx: int,
    pack_cols: list[str],
    order_col: str = "doc_id",
) -> str:
    """DuckDB twin of `pack_boundaries` (same fragments)."""
    g = ", ".join(pack_cols)
    inner = pack_sequences_sql(table_sql, tokens_sql, ctx, pack_cols, order_col)
    return f"""
        WITH p AS ({inner}),
        frag AS (
          SELECT {g}, {order_col}, tokens, start_tok, b.bin
          FROM p, UNNEST(range(first_bin, last_bin + 1)) AS b(bin))
        SELECT {g}, CAST(bin AS BIGINT) AS bin, {order_col},
               CAST(greatest(start_tok, bin * {ctx}) - bin * {ctx}
                    AS BIGINT) AS start_in_bin,
               CAST(least(start_tok + tokens, (bin + 1) * {ctx})
                    - greatest(start_tok, bin * {ctx}) AS BIGINT) AS frag_len
        FROM frag
    """


def pack_sequences_sql(
    table_sql: str,
    tokens_sql: str,
    ctx: int,
    pack_cols: list[str],
    order_col: str = "doc_id",
) -> str:
    """DuckDB twin of `pack_sequences` (same stream, same bins)."""
    g = ", ".join(pack_cols)
    return f"""
        WITH toks AS (
          SELECT {g}, {order_col}, CAST({tokens_sql} AS BIGINT) AS tokens
          FROM {table_sql}),
        cum AS (
          SELECT {g}, {order_col}, tokens,
                 CAST(sum(tokens) OVER (PARTITION BY {g} ORDER BY {order_col}
                                        ROWS UNBOUNDED PRECEDING) - tokens
                      AS BIGINT) AS start_tok
          FROM toks)
        SELECT {g}, {order_col}, tokens, start_tok,
               start_tok // {ctx} AS first_bin,
               (start_tok + tokens - 1) // {ctx} AS last_bin,
               (start_tok + tokens - 1) // {ctx} - start_tok // {ctx} + 1
                 AS n_bins
        FROM cum
    """


EPOCH_SALT = 2_654_435_761  # Knuth multiplicative constant
ORDER_SALT = 1_588_635_695  # decorrelates the low half of the order key


def shuffle_shards(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    epoch: int = 0,
) -> DataFrame:
    """-> (id, shard:long, pos:long): deterministic global training-data
    shuffle + shard layout. Each row's order key is a 62-BIT composite
    of two 4-round integer mixes of its id (`sketch.mix_col`, the
    repo's cross-engine hash: high = mix(x), low = mix(x + ORDER_SALT))
    so the "random" order is reproducible on any engine, partitioning,
    or cluster size with no RNG state to ship — and collision groups
    stay negligible at 10^10+ rows, where a single 31-bit mix would
    collide ~5x per value and the id tie-break would leak crawl-order
    runs back into the training order. Rows land in shard
    key % n_shards and order within the shard by (key, id).

    Scale shape: dataloader shuffling at corpus scale never needs one
    global dense sequence (that would be a single-partition window);
    shard-local positions are the layout real pipelines consume
    (shards ~ files), and the windows parallelize across shards. One
    hash-partition shuffle; choose n_shards so a shard is ~file-sized
    (corpus_rows / n_shards ~ 10^6).

    `epoch` re-shuffles for multi-epoch training: the mix input is
    offset by epoch * EPOCH_SALT, so each epoch gets an independent
    but equally reproducible order from the same ids — no shuffle
    state to persist between epochs.

    `id_col` must be numeric (castable to long); string ids should be
    fingerprinted first (`sketch.rolling_fp_col`) — under ANSI SQL a
    non-numeric cast fails loudly rather than silently NULLing.

    Reference analog: deterministic processing order derived from
    content, not arrival (`packages/core/src/index_single_file/scopes/
    scopes.ts:148-191` sorts captures by location+priority before the
    order-dependent pass).
    """
    from pyspark.sql.window import Window

    from ..functions.sketch import M31, mix_col

    assert n_shards > 0 and epoch >= 0
    x = F.col(id_col).cast("long") + F.lit(epoch * EPOCH_SALT)
    # 62-bit key: both halves < 2^31, product+sum < 2^62 (DuckDB-safe)
    k = mix_col(x) * F.lit(M31) + mix_col(x + F.lit(ORDER_SALT))
    out = docs.select(F.col(id_col), k.alias("__k"))
    out = out.withColumn("shard", (F.col("__k") % n_shards).cast("long"))
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("__k", id_col)
    ) - 1
    return out.select(
        id_col, "shard", pos.cast("long").alias("pos")
    )


def shuffle_shards_sql(n_shards: int, epoch: int = 0) -> str:
    """DuckDB twin of shuffle_shards() over the documents view."""
    from ..functions.sketch import M31, mix_sql

    xs = f"(doc_id + {epoch * EPOCH_SALT})"
    k = (
        f"({mix_sql(xs)} * {M31} + "
        f"{mix_sql(f'({xs} + {ORDER_SALT})')})"
    )
    return f"""
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                    - 1 AS BIGINT) AS pos
        FROM (SELECT doc_id, {k} AS k, ({k}) % {n_shards} AS shard
              FROM documents)
    """


def chunk_docs(
    docs: DataFrame,
    chunk: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """-> id_cols + (chunk_idx, start_tok, n_tok, chunk_text): RAG-style
    sliding-window document chunking — every `stride` words, emit the
    next `chunk`-word window (the last window may be shorter; windows
    overlap by `chunk - stride` words so no retrieval boundary splits
    a fact). One explode over `ceil(words/stride)` starts per doc —
    fanout is the true chunk count, cost linear in total output tokens,
    all JVM-side column expressions (split/sequence/slice/array_join),
    zero shuffles, so the plan is a pure pipelined scan at any corpus
    size.

    Chunk starts are `sequence(0, n_words-1, stride)` — exactly the
    starts `< n_words` (Spark's sequence is inclusive-end, the DuckDB
    twin's `range(0, n_words, stride)` exclusive-end: same list). A
    doc's words are `split(text, ' ')` (never empty — '' -> ['']), so
    the start list is never empty and every doc yields >= 1 chunk.

    Reference analog: the fixed-size body windows ariadne's scope
    indexer walks when a definition body exceeds one capture span
    (`packages/core/src/index_single_file/scopes/scopes.ts:148-191`
    processes captures in deterministic location order) — here the
    window is the retrieval unit instead of the capture unit.
    """
    assert chunk >= 1 and 1 <= stride <= chunk
    ws = F.split(F.col(text_col), " ")
    starts = F.expr(
        f"sequence(0, size(split({text_col}, ' ')) - 1, {stride})"
    )
    rows = docs.select(
        *id_cols, ws.alias("__ws"), F.explode(starts).alias("__st")
    )
    st = F.col("__st").cast("long")
    return rows.select(
        *id_cols,
        # __st is always a multiple of stride, so / is exact
        (st / stride).cast("long").alias("chunk_idx"),
        st.alias("start_tok"),
        F.least(F.lit(chunk).cast("long"), F.size("__ws") - st).alias("n_tok"),
        F.array_join(F.slice("__ws", F.col("__st") + 1, chunk), " ").alias(
            "chunk_text"
        ),
    )


def chunk_docs_sql(chunk: int = 64, stride: int = 48) -> str:
    """DuckDB twin of chunk_docs() over the documents view (chunk
    grain, including lang for the q22 per-lang aggregate). DuckDB list
    slicing is 1-based inclusive-end and clamps at the list end, so
    `ws[st+1 : st+chunk]` == Spark `slice(ws, st+1, chunk)`."""
    return f"""
        SELECT doc_id, lang, st // {stride} AS chunk_idx,
               CAST(st AS BIGINT) AS start_tok,
               CAST(least({chunk}, len(ws) - st) AS BIGINT) AS n_tok,
               array_to_string(ws[st + 1 : st + {chunk}], ' ') AS chunk_text
        FROM (SELECT doc_id, lang, ws, unnest(range(0, len(ws), {stride})) AS st
              FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
                    FROM documents))
    """


def alignment_filter(
    pairs: DataFrame,
    img_col: str = "img_vec",
    txt_col: str = "txt_vec",
    threshold_permille: int = 200,
) -> DataFrame:
    """-> input + (dot_q, na_q, nb_q, aligned): CLIP-score-style
    image-text alignment gate — keep a pair iff the cosine between its
    image embedding and its caption embedding is >= threshold/1000 (the
    LAION-style curation gate for paired multimodal corpora; LAION-400M
    used CLIP cosine >= 0.3).

    The gate is float-free past quantization: components quantize
    through `functions.embed.quantize` and score through
    `functions.embed.int_dot`, the one embedding-score contract, and
    `cos >= t/1000` is evaluated as the cross-multiplied integer
    comparison

        dot > 0  AND  10^6 * dot^2 >= t^2 * |a|^2 * |b|^2

    computed in decimal(38,0) (Spark) / HUGEINT (DuckDB) so it is
    EXACT for any vector norm — no sqrt, no float compare, identical
    on every engine and at any parallelism. NULL vectors fail closed
    (aligned = false, dot/norms NULL).

    Pure column expressions (zip_with + aggregate), no UDF, no join:
    cost is one linear pass over the pair table.

    Reference analog: resolution confidence gating — a candidate edge
    is kept only above a confidence bar, `Resolution{confidence}`
    (`packages/types/src/symbol_references.ts:270-298`).
    """
    assert 0 <= threshold_permille <= 1000
    t = threshold_permille

    # materialize each quantized array ONCE: dot and the norm both
    # consume it, and Catalyst's CollapseProject duplicates (not CSEs)
    # an expensive aliased expression only when it is referenced once —
    # same pattern and rationale as bloom_decontaminate's fingerprint
    # materialization above (measured there: 19.6 s -> ~6 s at sf0.1)
    qa, qb = "__qa_align", "__qb_align"
    quant = pairs.withColumn(qa, quantize(F.col(img_col))).withColumn(
        qb, quantize(F.col(txt_col))
    )
    dot = int_dot(F.col(qa), F.col(qb))
    na = int_dot(F.col(qa), F.col(qa))
    nb = int_dot(F.col(qb), F.col(qb))
    D = lambda c: c.cast("decimal(38,0)")
    # sign guard: squaring erases the sign, so negative-cosine pairs
    # must be cut before the cross-multiplied compare. At t == 0 the
    # documented gate is `cos >= 0`, which INCLUDES orthogonal pairs
    # (dot exactly 0) — strict > there would contradict the contract.
    sign_ok = (F.col("dot_q") >= 0) if t == 0 else (F.col("dot_q") > 0)
    gate = sign_ok & (
        D(F.col("dot_q")) * D(F.col("dot_q")) * F.lit(1_000_000).cast("decimal(38,0)")
        >= F.lit(t * t).cast("decimal(38,0)") * D(F.col("na_q")) * D(F.col("nb_q"))
    )
    return (
        quant.withColumn("dot_q", dot)
        .withColumn("na_q", na)
        .withColumn("nb_q", nb)
        .withColumn("aligned", F.coalesce(gate, F.lit(False)))
        .drop(qa, qb)
    )


def alignment_gate_sql(
    dot: str, na: str, nb: str, threshold_permille: int
) -> str:
    """DuckDB twin of alignment_filter's integer cosine gate as an
    expression fragment over precomputed quantized dot/norm columns."""
    t = threshold_permille
    sign = ">=" if t == 0 else ">"  # t == 0 keeps orthogonal pairs
    return (
        f"COALESCE({dot} {sign} 0 AND CAST({dot} AS HUGEINT) * {dot} * 1000000"
        f" >= CAST({t * t} AS HUGEINT) * {na} * {nb}, FALSE)"
    )


def quality_classifier(
    docs: DataFrame,
    seed_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    threshold_milli: int = 0,
) -> DataFrame:
    """-> (id, clf_milli, clf_keep): model-based quality filtering —
    distill a document-level seed rule into a token-level linear
    classifier, then score every document with it (the DCLM /
    FineWeb-Edu pipeline stage, with the deterministic integer model
    this repo's cross-engine parity rule requires instead of fastText).

    Training (one pass): label each doc with `seed_pred`, explode its
    DISTINCT tokens (presence/Bernoulli counts), and per token compute
    document frequencies in each class. A token's weight is its
    integer milli-polarity between the class RATES
        rp = (1000·df_pos) // max(n_pos, 1)   (likewise rn)
        w  = (2000·rp) // (rp + rn + 1) − 1000   ∈ [−1000, 1000]
    — the shifted form keeps every numerator non-negative, so Spark's
    (a − a%b)/b trunc-division and DuckDB's `//` agree, and every
    intermediate stays ≤ 2·10⁶ regardless of corpus size (the rates
    themselves stay < 2^53 up to 9·10¹² documents).

    Scoring (one pass): distinct tokens per doc, joined to the weight
    table, summed; `clf_keep` = score ≥ threshold_milli. Docs whose
    tokens all miss the vocabulary score 0 (left join, coalesce).

    Scale shape: training is explode + two hash aggs (map-side
    combinable, shuffle bounded by vocab size); the 1-row class-count
    table broadcasts; scoring is one explode + one join + one per-doc
    hash agg. `min_df` prunes the long-tail vocabulary so the weight
    table broadcasts (~10⁶ surviving tokens at web scale); nothing is
    ever pairwise and no stage holds more than the vocabulary.

    Reference analog: the reference scores resolution candidates with
    a trained-registry of per-construct confidence weights
    (`packages/core/src/resolve_references/call_resolver.ts:391-463`);
    here the registry is induced from the seed split instead of
    hand-written.
    """
    lab = docs.select(
        F.col(id_col),
        F.when(seed_pred, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("y"),
        F.col(text_col),
    )
    cls = lab.agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
    )
    toks = lab.select(
        id_col, "y", F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).distinct()
    df = toks.groupBy("word").agg(
        F.sum("y").cast("long").alias("df_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("df_neg"),
    )
    if min_df > 1:
        df = df.where(F.col("df_pos") + F.col("df_neg") >= F.lit(min_df))
    rp = _idivc(
        F.col("df_pos") * F.lit(1000), F.greatest(F.col("n_pos"), F.lit(1))
    )
    rn = _idivc(
        F.col("df_neg") * F.lit(1000), F.greatest(F.col("n_neg"), F.lit(1))
    )
    weights = (
        df.crossJoin(F.broadcast(cls))
        .select(
            "word",
            (_idivc(rp * F.lit(2000), rp + rn + F.lit(1)) - F.lit(1000)).alias(
                "w"
            ),
        )
    )
    scored = (
        lab.select(
            id_col, F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .distinct()
        .join(F.broadcast(weights), "word", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("w"), F.lit(0))).cast("long").alias("clf_milli")
        )
    )
    return scored.select(
        id_col,
        "clf_milli",
        (F.col("clf_milli") >= F.lit(threshold_milli)).alias("clf_keep"),
    )


def quality_classifier_sql(
    seed_pred_sql: str,
    min_df: int = 1,
    threshold_milli: int = 0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of quality_classifier: same labels, same distinct-
    presence counts, same shifted trunc-division weight formula, same
    left-join/coalesce scoring — byte-identical scores and verdicts.
    `seed_pred_sql` is the seed predicate over `table`'s columns."""
    return f"""
        WITH lab AS (
            SELECT {id_col},
                   CAST(CASE WHEN {seed_pred_sql} THEN 1 ELSE 0 END AS BIGINT) AS y,
                   {text_col} AS _txt
            FROM {table}),
        cls AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos,
                       CAST(count(*) - sum(y) AS BIGINT) AS n_neg FROM lab),
        toks AS (SELECT DISTINCT {id_col}, y, word FROM (
                   SELECT {id_col}, y,
                          unnest(string_split(_txt, ' ')) AS word
                   FROM lab)),
        df AS (SELECT word, CAST(sum(y) AS BIGINT) AS df_pos,
                      CAST(count(*) - sum(y) AS BIGINT) AS df_neg
               FROM toks GROUP BY word
               HAVING count(*) >= {min_df}),
        wt AS (SELECT word,
                      (2000 * ((df_pos * 1000) // greatest(n_pos, 1)))
                        // (((df_pos * 1000) // greatest(n_pos, 1))
                            + ((df_neg * 1000) // greatest(n_neg, 1)) + 1)
                        - 1000 AS w
               FROM df CROSS JOIN cls),
        dw AS (SELECT DISTINCT {id_col}, word FROM (
                 SELECT {id_col}, unnest(string_split(_txt, ' ')) AS word
                 FROM lab)),
        sc AS (SELECT dw.{id_col},
                      CAST(sum(coalesce(wt.w, 0)) AS BIGINT) AS clf_milli
               FROM dw LEFT JOIN wt USING (word)
               GROUP BY dw.{id_col})
        SELECT {id_col}, clf_milli,
               clf_milli >= {threshold_milli} AS clf_keep
        FROM sc
    """


def mixture_sample(
    df: DataFrame,
    weights: DataFrame,
    total: int,
    group_col: str = "lang",
    order_keys: list[Column] | None = None,
) -> DataFrame:
    """Training-data mixture assembly: draw a corpus of (at most)
    `total` rows whose per-domain composition follows `weights`
    (group, weight) — the stage that applies DoReMi/-style mixture
    weights to build the actual training set.

    Apportionment is Hamilton largest-remainder, all-integer:
    base_s = total·w_s // W, then one extra row to the domains with
    the largest remainders (ties on the group value) until the bases
    sum to `total`; a domain shorter than its quota contributes all
    its rows (no redistribution — quotas stay weight-faithful and the
    result is deterministic). Row selection inside a domain is the
    first quota rows by `order_keys` (deterministic columns whose
    COMPOSITE is unique per row — e.g. a content fingerprint with the
    id as tie-break), so the kept set is engine- and cluster-size-
    identical.

    -> df's rows selected, plus (take_n, rnk): the domain quota and
    the row's 1-based rank within its domain.

    Scale shape: the weights/apportionment tables are domain-count-
    sized (tiny, broadcast); per-domain counts are one hash agg. The
    exact first-k-per-domain selection is one rank window — a
    per-domain sort, the honest cost of EXACT quotas; at 10^12 rows
    run the approximate fingerprint-threshold prefilter first
    (keep fp % g < 2·g·n_s/c_s, the temperature_sample trick) and
    rank only the ~2x survivors, which bounds the sorted volume by
    O(total), not O(corpus).
    """
    from pyspark.sql import Window

    assert order_keys, "pass deterministic order columns (unique composite)"
    W = weights.agg(F.sum("weight").alias("w_tot"))
    app = (
        weights.crossJoin(F.broadcast(W))
        .select(
            group_col,
            _idivc(F.lit(total) * F.col("weight"), F.col("w_tot")).alias("base"),
            (F.lit(total) * F.col("weight") % F.col("w_tot")).alias("rem"),
        )
    )
    left = app.agg((F.lit(total) - F.sum("base")).alias("leftover"))
    wv = Window.orderBy(F.desc("rem"), F.asc(group_col))
    app = (
        app.crossJoin(F.broadcast(left))
        .withColumn("rk", F.row_number().over(wv))
        .select(
            group_col,
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).cast("long").alias("take_n"),
        )
    )
    wr = Window.partitionBy(group_col).orderBy(*[F.asc(k) for k in order_keys])
    return (
        df.join(F.broadcast(app), group_col)
        .withColumn("rnk", F.row_number().over(wr).cast("long"))
        .where(F.col("rnk") <= F.col("take_n"))
    )


def mixture_sample_sql(
    table_sql: str,
    weights_values: str,
    total: int,
    group_col: str,
    order_key_sql: str,
    select_cols: list[str],
) -> str:
    """DuckDB twin of mixture_sample. `weights_values` is a VALUES
    list like "('en', 5), ('de', 3)"; `order_key_sql` a comma list of
    order expressions; same Hamilton rounding, same first-k
    selection."""
    cols = ", ".join(select_cols)
    return f"""
        WITH mw(grp, weight) AS (SELECT * FROM (VALUES {weights_values})),
        wtot AS (SELECT sum(weight) AS w_tot FROM mw),
        app0 AS (
          SELECT grp, ({total} * weight) // w_tot AS base,
                 ({total} * weight) % w_tot AS rem
          FROM mw, wtot),
        lft AS (SELECT {total} - sum(base) AS leftover FROM app0),
        app AS (
          SELECT grp,
                 CAST(base + CASE WHEN row_number() OVER (
                        ORDER BY rem DESC, grp) <= leftover
                      THEN 1 ELSE 0 END AS BIGINT) AS take_n
          FROM app0, lft),
        ranked AS (
          SELECT t.*, app.take_n,
                 CAST(row_number() OVER (
                   PARTITION BY t.{group_col}
                   ORDER BY {order_key_sql}) AS BIGINT) AS rnk
          FROM ({table_sql}) t JOIN app ON t.{group_col} = app.grp)
        SELECT {cols}, take_n, rnk FROM ranked WHERE rnk <= take_n
    """


def materialize_training_run(
    docs: DataFrame,
    store,
    run_name: str,
    weights: DataFrame,
    total: int,
    ctx: int = 64,
    n_shards: int = 4,
    epoch: int = 0,
    audit=None,
    bins_per_part: int = 256,
) -> tuple[int, bool]:
    """Capstone composition — materialize one training run end to end
    and PUBLISH it through the store's write-audit-publish gate:

      exact dedup (md5, min-id canonical)
        -> Gopher repetition gate (repetition_stats, repetitive == 0)
        -> mixture_sample (Hamilton quotas of `total` over `weights`)
        -> shuffle_shards (deterministic epoch-salted training order)
        -> pack_sequences (concat-then-chunk ctx windows per shard)
        -> store.write_audit_publish(f"{run_name}_layout")

    The written table is the doc-grain packing layout
    (doc_id, lang, shard, pos, tokens, start_tok, first_bin, last_bin,
    n_bins), partitioned by `part` = (shard, first_bin // bins_per_part)
    — each shard's token stream splits into contiguous window-range
    chunks — with zone-map stats on BOTH first_bin and last_bin. A
    loader fetching windows [lo, hi] of one shard therefore reads
    ~ (hi-lo)/bins_per_part partitions, located metadata-only (see
    `read_token_window`): the overlap predicate first_bin <= hi AND
    last_bin >= lo maps exactly onto two zone-map range prunes, and a
    doc STRADDLING a chunk boundary is still found because it raises
    its home chunk's max(last_bin). At 10^12 tokens per shard, size
    bins_per_part so a chunk is one healthy file (e.g. ctx=8192,
    bins_per_part=4096 -> ~32M tokens/chunk). The default audit
    asserts every shard is a GAPLESS stream (min start 0, max
    start+tokens == sum tokens) and non-empty — a failing audit leaves
    the 'published' branch untouched.

    Determinism is end-to-end: every stage above is RNG-free and
    data-derived, so two runs over the same input produce
    fingerprint-identical published partitions (pinned in tests), and
    `epoch` yields an independent but equally reproducible order.
    Returns (snapshot_id, published).
    """
    from ..functions.sketch import mix_col

    h = docs.groupBy(F.md5(F.col("text")).alias("__h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    dd = docs.join(h.select("doc_id"), "doc_id", "left_semi")
    good = repetition_stats(dd).where(F.col("repetitive") == 0).select("doc_id")
    gated = dd.join(good, "doc_id", "left_semi")
    mixed = mixture_sample(
        gated,
        weights,
        total,
        group_col="lang",
        order_keys=[mix_col(F.col("doc_id")), F.col("doc_id")],
    ).select("doc_id", "lang", "text")
    sh = shuffle_shards(mixed, n_shards=n_shards, epoch=epoch)
    base = mixed.join(sh, "doc_id").select(
        "doc_id",
        "lang",
        "shard",
        "pos",
        ws_token_count("text").alias("tokens"),
    )
    from ..functions.cells import idiv

    packed = pack_sequences(
        base, tokens=F.col("tokens"), ctx=ctx,
        pack_cols=["shard"], order_col="pos",
    ).join(base.select("doc_id", "lang", "shard", "pos"), ["shard", "pos"])
    # partition key: shard + zero-padded window-range chunk (12 digits
    # holds 10^12 bins; zero-padding keeps key order == stream order)
    laid = packed.withColumn(
        "part",
        F.concat(
            F.col("shard").cast("string"),
            F.lit("~"),
            F.lpad(idiv(F.col("first_bin"), bins_per_part).cast("string"), 12, "0"),
        ),
    )

    def _default_audit(snap: DataFrame) -> bool:
        agg = snap.groupBy("shard").agg(
            F.min("start_tok").alias("mn"),
            F.max(F.col("start_tok") + F.col("tokens")).alias("mx"),
            F.sum("tokens").alias("tot"),
        )
        bad = agg.where(
            (F.col("mn") != 0) | (F.col("mx") != F.col("tot"))
        ).limit(1).count()
        return snap.limit(1).count() > 0 and bad == 0

    return store.write_audit_publish(
        laid,
        f"{run_name}_layout",
        key="part",
        audit=audit or _default_audit,
        stats_cols=["first_bin", "last_bin"],
    )


def read_token_window(
    store,
    table: str,
    shard: int,
    first_bin: int,
    last_bin: int,
    snapshot_id: int | str = "published",
) -> DataFrame:
    """Loader-side read of one shard's context windows [first_bin,
    last_bin] (inclusive) from a layout written by
    `materialize_training_run`: returns exactly the docs whose token
    span overlaps those windows (first_bin <= hi AND last_bin >= lo).

    The whole locate step is metadata-only: the shard's partitions are
    selected by key prefix from the manifest, then the two overlap
    bounds zone-map-prune chunks via the first_bin/last_bin stats —
    only the ~ (hi-lo)/bins_per_part surviving chunk files are listed
    or opened, so a 10^12-token shard serves a window read at
    O(manifest) + O(window) cost. The range predicates are re-applied
    as residual row filters (and push down to parquet row groups), so
    the result is exactly the full-scan filter — pruning never changes
    semantics. Snapshot-race-free: pruning and reading share one
    resolved manifest.

    Reference analog: ariadne's range-indexed lookup of the
    definitions covering a file span
    (`packages/core/src/index_single_file/index_single_file.ts:98`) —
    here the "file" is a pack shard and the span is window offsets.
    """
    m = store.manifest(table, snapshot_id)
    assert m is not None, f"table {table} has no snapshot"
    prefix = f"{shard}~"
    keys = [k for k in m.partitions if k.startswith(prefix)]
    df = store.read(
        table,
        snapshot_id=m.snapshot_id,
        keys=keys,
        where={"first_bin": (None, last_bin), "last_bin": (first_bin, None)},
    )
    return df.where(F.col("shard") == F.lit(shard))


def surprisal_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """LM-surprisal quality scoring — the CCNet/Wikipedia-LM
    perplexity-filter analog (Wenzek et al. 2020, arXiv:1911.00359)
    with the LM reduced to the corpus's own unigram model and the log
    made integer-exact: bits(x) = length of x's binary representation
    (= floor(log2 x) + 1, computed as string length so Spark's
    conv(x,10,2) and DuckDB's printf('%b',x) agree bit-for-bit; no
    float log anywhere). Token surprisal = bits(N_total) - bits(freq),
    doc score = floor(1000 * sum(surprisal) / n_tokens):

      LOW  permille -> tokens are corpus-common (boilerplate, spam
                       repeats — what perplexity filters drop);
      HIGH permille -> rare-token-dense (jargon/noise tail).

    Rank-preserving vs true mean log-likelihood within ~1 bit/token;
    thresholds are calibrated on the score itself, so exactness of the
    SURROGATE (which IS exact, cross-engine) is what matters for
    reproducible curation decisions.

    SCALE: one token explode -> one (token) hash agg for the unigram
    table -> one token-keyed equi-join back -> one per-doc agg. All
    linear with map-side partial aggregation; the 1-row corpus total
    broadcasts. Empty docs keep (0, 0) via the left join.

    Reference analog: the capture-frequency ranking ariadne uses to
    separate boilerplate identifiers from meaningful symbols
    (`packages/core/src/index_single_file/index_single_file.ts:98-120`).
    """
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("token"),
    )
    freq = toks.groupBy("token").agg(F.count("*").cast("long").alias("freq"))
    total = freq.agg(F.sum("freq").cast("long").alias("n_total"))
    bits = lambda c: F.length(F.conv(c, 10, 2)).cast("long")  # noqa: E731
    surp = freq.crossJoin(F.broadcast(total)).select(
        "token", (bits(F.col("n_total")) - bits(F.col("freq"))).alias("surp")
    )
    # permille = floor(1000 * sum / n); n >= 1 on every joined row
    per_doc = (
        toks.join(surp, "token")
        .groupBy("__id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("surp").cast("long").alias("__s"),
        )
        .select(
            "__id",
            "n_tokens",
            ((F.col("__s") * 1000 - (F.col("__s") * 1000) % F.col("n_tokens"))
             / F.col("n_tokens")).cast("long").alias("surprisal_permille"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("surprisal_permille", F.lit(0)).cast("long").alias(
                "surprisal_permille"
            ),
        )
    )


def surprisal_score_sql(table: str = "documents") -> str:
    """DuckDB twin of `surprisal_score` (same bits() law, same floor)."""
    return f"""
        WITH toks AS (
          SELECT doc_id AS __id,
                 unnest(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS token
          FROM {table}),
        freq AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
                 FROM toks GROUP BY token),
        tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM freq),
        surp AS (
          SELECT token,
                 CAST(length(printf('%b', n_total))
                      - length(printf('%b', freq)) AS BIGINT) AS surp
          FROM freq, tot),
        per AS (
          SELECT __id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(surp) AS BIGINT) AS s
          FROM toks JOIN surp USING (token) GROUP BY __id)
        SELECT d.doc_id,
               CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE((per.s * 1000) // per.n_tokens, 0) AS BIGINT)
                 AS surprisal_permille
        FROM {table} d LEFT JOIN per ON d.doc_id = per.__id
    """


def pack_multimodal(
    segments: DataFrame,
    ctx: int,
    shard_col: str = "shard",
    doc_col: str = "doc_id",
    seq_col: str = "seq",
    kind_col: str = "kind",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Interleaved image-text sequence packing — the multimodal-
    pretraining layout (Flamingo/MM1-style interleaved corpora, public
    method descriptions only): documents are SEQUENCES of segments,
    text segments contribute their token count and MAY split across
    context windows, image segments contribute their patch count
    (`decode.patchify`'s (w//p)*(h//p) law) and may NOT split — a
    partial image is meaningless to the model, so an image that would
    straddle a window boundary pads the current window closed and
    opens the next one.

    Input: one row per segment
      (shard_col, doc_col, seq_col, kind_col 'text'|'image',
       tokens_col) — stream order within a shard is (doc, seq).
    Output: one row per (window, fragment)
      (shard, bin, win_pos, doc_id, seq, kind, frag_lo, frag_hi) —
    `win_pos` is the fragment's start inside its window, [frag_lo,
    frag_hi) the covered slice of the segment's tokens; synthetic
    kind='pad' fragments (doc_id/seq NULL) fill every window to
    exactly ctx, so each (shard, bin) tiles [0, ctx) exactly — the
    attention-mask/loss-mask contract a loader needs (pads masked,
    image spans routed to the vision tower, text spans to the LM).

    Same parallelism/determinism argument as `pack_greedy`: assignment
    is inherently sequential WITHIN a shard (each decision depends on
    the previous fill), so it runs as one applyInPandas pass per
    shard; the shard key is data-derived, making the layout
    bit-identical at any cluster size. Empty text segments (0 tokens)
    contribute nothing and are dropped; an image wider than ctx
    patches cannot be packed and raises.

    Reference analog: the containment-preserving capture ordering the
    reference enforces before scope assembly (parents before children,
    `index_single_file/scopes/scopes.ts:148-191`) — here the preserved
    structure is segment order and image atomicity.
    """
    import pandas as pd

    base = segments.select(
        F.col(shard_col).cast("long").alias("shard"),
        F.col(doc_col).cast("long").alias("doc_id"),
        F.col(seq_col).cast("long").alias("seq"),
        F.col(kind_col).cast("string").alias("kind"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )
    out_schema = (
        "shard long, bin long, win_pos long, doc_id long, seq long, "
        "kind string, frag_lo long, frag_hi long"
    )
    cols = ["shard", "bin", "win_pos", "doc_id", "seq", "kind", "frag_lo", "frag_hi"]

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "seq"], kind="mergesort")
        shard = int(pdf["shard"].iloc[0])
        rows: list[tuple] = []
        b, pos = 0, 0
        for doc, seq, kind, t in zip(
            pdf["doc_id"], pdf["seq"], pdf["kind"], pdf["n_tokens"]
        ):
            # NULLs arrive as NaN after the long cast; int(NaN) raises
            # an opaque TypeError mid-pack — name the offending segment
            # instead, matching the kind/ctx assert style below
            assert pd.notna(doc) and pd.notna(seq) and pd.notna(t), (
                f"segment (doc {doc}, seq {seq}) in shard {shard} has "
                f"NULL doc/seq/n_tokens (n_tokens={t}): every segment "
                "needs a non-null identity and token count"
            )
            doc, seq, t = int(doc), int(seq), int(t)
            assert t >= 0, (
                f"segment (doc {doc}, seq {seq}) has negative "
                f"n_tokens={t} — a negative count would be silently "
                "dropped by the split loop; fix the upstream counter"
            )
            assert kind in ("text", "image"), f"unknown segment kind {kind!r}"
            if kind == "image":
                assert 1 <= t <= ctx, (
                    f"image segment (doc {doc}, seq {seq}) is {t} patches "
                    f"but ctx={ctx}: images cannot split across windows — "
                    "resize/patchify it smaller upstream"
                )
                if pos + t > ctx:
                    rows.append((shard, b, pos, None, None, "pad", 0, ctx - pos))
                    b, pos = b + 1, 0
                rows.append((shard, b, pos, doc, seq, "image", 0, t))
                pos += t
                if pos == ctx:
                    b, pos = b + 1, 0
            else:
                lo = 0
                while lo < t:
                    take = min(t - lo, ctx - pos)
                    rows.append((shard, b, pos, doc, seq, "text", lo, lo + take))
                    pos += take
                    lo += take
                    if pos == ctx:
                        b, pos = b + 1, 0
        if pos > 0:
            rows.append((shard, b, pos, None, None, "pad", 0, ctx - pos))
        return pd.DataFrame(rows, columns=cols)

    return base.groupBy("shard").applyInPandas(pack, out_schema)
