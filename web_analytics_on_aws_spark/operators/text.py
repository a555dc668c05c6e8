"""Text-analysis operators: language ID, quality scoring, token counting,
fingerprinting (extension surface, BASELINE.json north star).

All pure JVM column expressions (HOFs over token arrays) — portable to an
ANSI-SQL oracle and free of Python row costs. The simple aggregate plans
(stats/quality/fingerprints) live in plans/pipeline.py; this module holds
the per-document scoring operators.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from web_analytics_on_aws_spark.functions import token_count, token_split

# Marker function-words per language, checked in fixed priority order (ties
# resolve to the earlier language — deterministic in any engine).
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "and"]),
    ("es", ["el", "la", "los", "que"]),
    ("de", ["der", "die", "das", "und"]),
    ("fr", ["le", "les", "des", "et"]),
]


def _marker_count(tokens: Column, markers: list[str]) -> Column:
    lst = ", ".join(f"'{m}'" for m in markers)
    return F.size(F.filter(tokens, lambda t: t.isin(markers)))


def lang_id(text_col: str = "text") -> Column:
    """N-gram-style heuristic language ID: argmax of marker-token counts,
    fixed priority on ties, 'und' (undetermined) when no marker hits."""
    tokens = token_split(F.col(text_col))
    counts = [(lang, _marker_count(tokens, m)) for lang, m in LANG_MARKERS]
    best = F.greatest(*[c for _, c in counts])
    expr = F.when(best <= 0, F.lit("und"))
    for lang, c in counts:
        expr = expr.when(c == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def quality_score(text_col: str = "text") -> Column:
    """Heuristic quality in [0,1]: blend of length adequacy, mean word
    length sanity, and alphabetic purity — the shape of a pretraining
    quality filter. Deterministic, SQL-portable arithmetic."""
    t = F.col(text_col)
    n_tok = token_count(t).cast("double")
    n_chars = F.length(t).cast("double")
    mean_word = n_chars / F.greatest(n_tok, F.lit(1.0))
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    word_score = F.when((mean_word >= 3.0) & (mean_word <= 10.0), 1.0).otherwise(0.5)
    alpha_ratio = (
        F.length(F.regexp_replace(F.lower(t), "[^a-z ]", "")) / F.greatest(n_chars, F.lit(1.0))
    )
    return F.round((len_score + word_score + alpha_ratio) / F.lit(3.0), 6)


def redact_pii(col: Column | str) -> Column:
    """Mask common PII shapes (emails, phone-like sequences, long digit
    runs) — the pre-training privacy scrub step. Pure JVM regexp_replace
    chain (whole-stage codegen, no UDF); patterns are RE2/Java-compatible
    (no lookaround) so the DuckDB oracle can run the identical chain."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]")
    c = F.regexp_replace(c, r"\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3,4}[- .]?[0-9]{0,4}", "[PHONE]")
    c = F.regexp_replace(c, r"[0-9]{7,}", "[NUM]")
    return c


def _trigrams(text_col: Column) -> Column:
    """Distinct character trigrams of the lowercased text (empty array for
    texts shorter than 3 chars — guarded because Spark's sequence(1, n)
    runs DESCENDING when n < 1, unlike DuckDB's empty range)."""
    t = F.lower(text_col)
    tris = F.when(
        F.length(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 2),
            lambda i: F.substring(t, i, 3),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(tris)


def trigram_profiles(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    top_p: int = 200,
) -> DataFrame:
    """Cavnar-Trenkle-style per-language character-trigram profiles learned
    from labeled docs: top ``top_p`` trigrams per language by document
    frequency, weighted by inverted rank (integer weight = top_p+1−rank, so
    scoring stays exact-arithmetic and engine-portable). Output
    (lang, tri, weight) — ≤ |langs|·top_p rows, broadcastable."""
    from pyspark.sql import Window

    tris = docs.select(
        F.col(lang_col).alias("lang"),
        F.explode(_trigrams(F.col(text_col))).alias("tri"),
    )
    counts = tris.groupBy("lang", "tri").agg(F.count("*").alias("df"))
    w = Window.partitionBy("lang").orderBy(F.desc("df"), F.asc("tri"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_p)
        .select("lang", "tri", (F.lit(top_p + 1) - F.col("rank")).alias("weight"))
    )


def trigram_lang_id(
    docs: DataFrame,
    profiles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classify each doc by summed profile weight of its distinct trigrams
    (argmax over languages; ties → lexicographically first lang; docs
    matching no profile trigram → 'und'). The profile table broadcasts, so
    the only shuffle is the per-(doc, lang) score aggregation — O(docs ×
    matched langs), never a cross join against the corpus."""
    from pyspark.sql import Window

    doc_tris = docs.select(
        id_col, F.explode(_trigrams(F.col(text_col))).alias("tri")
    )
    scored = (
        doc_tris.join(F.broadcast(profiles), "tri")
        .groupBy(id_col, "lang")
        .agg(F.sum("weight").alias("score"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("lang"))
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, F.col("lang").alias("pred_lang"), "score")
    )
    return docs.select(id_col).join(best, id_col, "left").select(
        id_col,
        F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
        F.coalesce("score", F.lit(0)).alias("score"),
    )


def benchmark_ngram_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination (the n-gram-overlap rule every pretraining
    pipeline runs before training): return the ids of ``train`` documents
    sharing at least one n-token shingle with any ``benchmark`` document.

    Plan: benchmark shingles → distinct → BROADCAST (eval sets are tiny
    next to the corpus — MBs of grams vs TBs of train text); train side is
    one map pass (shingle + explode) into a broadcast left-semi join, then
    a distinct on ids. Zero corpus shuffles at any scale; if the benchmark
    side ever outgrows broadcast, the same plan downgrades to a hash
    semi-join on the gram key."""
    from web_analytics_on_aws_spark.operators.dedup import with_shingles

    bg = (
        with_shingles(benchmark, text_col, n, "__g")
        .select(F.explode("__g").alias("gram"))
        .distinct()
    )
    tg = with_shingles(train, text_col, n, "__g").select(
        id_col, F.explode("__g").alias("gram")
    )
    return tg.join(F.broadcast(bg), "gram", "left_semi").select(id_col).distinct()


def repetition_scores(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate/repetition quality signal: per document, the share of
    k-gram occurrences taken by the single most repeated k-gram
    (``max_gram_count / n_grams``) — high values mark templated or
    degenerate text that quality filters drop before training.

    Non-distinct k-grams by construction (repetition is the point), via
    array expressions over a tokenized-once column; one (doc, gram) count
    aggregate then a per-doc max — both partial-aggregated map-side.
    Documents with fewer than k tokens emit no row (no k-grams to score)."""
    from web_analytics_on_aws_spark.functions import token_split

    gram = (
        "transform(sequence(1, size(__toks) - {m}), "
        "i -> concat_ws(' ', {parts}))"
    ).format(
        m=k - 1,
        parts=", ".join(f"element_at(__toks, i + {j})" for j in range(k)),
    )
    grams = (
        df.select(F.col(id_col), token_split(F.col(text_col)).alias("__toks"))
        .filter(F.size("__toks") >= k)
        .select(id_col, F.explode(F.expr(gram)).alias("gram"))
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("__c"))
    return per_gram.groupBy(id_col).agg(
        F.sum("__c").alias("n_grams"),
        F.max("__c").alias("max_gram_count"),
    ).select(
        id_col,
        "n_grams",
        "max_gram_count",
        F.round(F.col("max_gram_count") / F.col("n_grams"), 6).alias("rep_score"),
    )


def vocab_topk(
    df: DataFrame, k: int = 1000, text_col: str = "text"
) -> DataFrame:
    """Tokenizer-vocabulary build step: the top-k corpus tokens by total
    occurrence count, ranked deterministically (count desc, token asc).

    One token-count aggregate (map-side combined — the shuffle carries
    |vocab| partial counts, not token instances) and one global sort of the
    |vocab|-row result; at 100 TB |vocab| is millions of rows — the sort is
    trivial next to the scan."""
    from pyspark.sql import Window

    from web_analytics_on_aws_spark.functions import token_split

    counts = (
        df.select(F.explode(token_split(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("rank", "tok", "cnt")
    )


def sliding_windows(text_col: str, k: int) -> Column:
    """Array of all k-token sliding windows of ``text_col`` (space-joined;
    empty array for docs shorter than k). Shared by the per-doc duplication
    census and the boilerplate top-windows query so the window definition
    can never desynchronize."""
    from web_analytics_on_aws_spark.functions import token_split

    toks = token_split(F.col(text_col))
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def duplicated_window_stats(
    df: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
    include_all_docs: bool = True,
) -> DataFrame:
    """Exact-substring duplication census (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — the fixed
    k-token-window form of their suffix-array pass): every k-token sliding
    window is hashed; windows occurring in ≥2 distinct documents count as
    duplicated text, and each document reports its covered fraction.

    Scale shape: one generator explode (O(tokens) rows), one 16-byte-digest
    groupBy to find cross-doc windows, one hash join back, one per-doc
    aggregate — no doc×doc comparison anywhere, and keys are content
    digests so the shuffle is skew-free.

    Output: (id_col, n_windows, n_dup_windows, dup_frac), one row per
    input document (short docs report zeros).

    ``materialize`` localCheckpoints the exploded digest stream: it has
    TWO consumers (the cross-doc census and the join-back), and exchange
    reuse does not fire across them (measured r12), so without it the
    dominant cost — window-string generation + md5 over O(tokens) rows —
    runs twice. The materialized rows are (id, 16-byte digest), far
    smaller than the window strings they replace. Default False (r13,
    ADVICE r12): an operator-library builder must not run Spark jobs at
    DataFrame-construction time — .explain()/plan dumps would trigger full
    tokenize+md5 passes — and a localCheckpoint truncates lineage, so an
    executor loss replays from the checkpointed blocks instead of the
    source (acceptable for a reduced intermediate a caller opts into, not
    a library default). Registered bench queries whose profile showed the
    double tokenize pass opt in explicitly.

    ``include_all_docs=False`` skips the final join back to ``df`` that
    pads zero-window (short) documents into the output: only documents
    with ≥1 window appear, saving one scan of ``df`` plus a join for
    callers that left-join the stats by id and treat missing as
    zero-duplication anyway (the curation funnel).
    """
    w = df.select(id_col, F.explode(sliding_windows(text_col, k)).alias("win")).select(
        id_col, F.md5("win").alias("h")
    )
    if materialize:
        w = w.localCheckpoint()
    dup = (
        w.groupBy("h")
        .agg(F.count_distinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    per_doc = (
        w.join(dup.withColumn("__dup", F.lit(1)), "h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("__dup").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_windows"),
        )
    )
    if not include_all_docs:
        return per_doc.select(
            id_col,
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.col("n_dup_windows"),
            F.round(
                F.col("n_dup_windows").cast("double") / F.col("n_windows"), 6
            ).alias("dup_frac"),
        )
    return df.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_windows", F.lit(0)).cast("bigint").alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0))
        .cast("bigint")
        .alias("n_dup_windows"),
        F.round(
            F.when(F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0.0)).otherwise(
                F.col("n_dup_windows").cast("double") / F.col("n_windows")
            ),
            6,
        ).alias("dup_frac"),
    )


GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "that")


def gopher_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 1000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_word_len: int = 20,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-rule quality flags (Rae et al. 2021 §A1.1) as row-local JVM
    expressions appended to the input: word-count bounds, mean-word-length
    band, max-word-length cap, minimum stopword hits, and the conjunction
    (pass_all). One map pass, no shuffle."""
    from web_analytics_on_aws_spark.functions import token_split

    toks = token_split(F.col(text_col))
    lens = F.transform(toks, lambda w: F.length(w))
    n_words = F.size(toks)
    mean_len = (
        F.aggregate(lens, F.lit(0).cast("bigint"), lambda a, x: a + x).cast(
            "double"
        )
        / n_words
    )
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*GOPHER_STOPWORDS)))
    out = df.withColumn(
        "wc_ok", n_words.between(min_words, max_words)
    ).withColumn(
        "ml_ok", (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    ).withColumn(
        "mx_ok", F.array_max(lens) <= max_word_len
    ).withColumn(
        "sw_ok", stop_hits >= min_stop_hits
    )
    return out.withColumn(
        "pass_all",
        F.col("wc_ok") & F.col("ml_ok") & F.col("mx_ok") & F.col("sw_ok"),
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text", k: int = 100) -> DataFrame:
    """BPE merge candidates (Sennrich et al., ACL 2016): frequency of every
    adjacent character pair across all word occurrences — the statistic the
    first BPE merge maximizes. Generator explode + one map-side-combined
    shuffle on the pair key; the top-k rank is a single-partition window
    over the ≤ alphabet²-row aggregate."""
    from pyspark.sql import Window

    from web_analytics_on_aws_spark.functions import token_split

    words = df.select(F.explode(token_split(F.col(text_col))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").cast("bigint").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("rank", "pair", "cnt")
    )


def bloom_ngram_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decontamination for benchmark sets too big to broadcast raw: a
    hand-rolled distributed Bloom filter over the benchmark shingles.

    Build: benchmark grams fan out to ``num_hashes`` bit positions
    (xxhash64 seeds), bit-OR-aggregate into sparse 64-bit words, and
    densify into ONE array<long> row (num_bits/64 longs — 128 KB at the
    default 2^20 bits), which broadcasts even when the raw gram set is
    GBs. Probe: each train gram evaluates its ``num_hashes`` bit lookups
    MAP-SIDE against the broadcast bitmap (crossJoin + forall/getbit — no
    join, no aggregate); only Bloom survivors — true hits + the ~fp-rate
    sliver — reach the exact gram join that removes false positives, so
    the first train-side shuffle moves candidates, never the corpus.

    Output: distinct flagged train ids — EXACTLY equal to
    ``benchmark_ngram_overlap`` (Bloom has no false negatives; positives
    are exact-confirmed; pinned in pytest)."""
    from web_analytics_on_aws_spark.operators.dedup import with_shingles

    bg = (
        with_shingles(benchmark, text_col, n, "__g")
        .select(F.explode("__g").alias("gram"))
        .distinct()
    )
    seeds = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("s")
    pos = F.pmod(F.xxhash64(F.col("gram"), F.col("s")), F.lit(num_bits))
    word = F.floor(F.col("__p") / 64).cast("long").alias("w")
    mask = F.expr("shiftleft(1L, CAST(__p % 64 AS INT))").alias("m")
    nwords = (num_bits + 63) // 64
    # dense bitmap as ONE array<long> row (num_bits/64 longs — 128 KB at
    # the default 2^20 bits). The sparse word ORs collect to the driver —
    # a BOUNDED ≤ nwords-row collect (the same size contract as IVF
    # centroids), never data-proportional. (A pure-plan dense fill via a
    # map column was measured quadratic: Spark's element_at on MapData is
    # a linear scan, so 16k lookups × 16k entries dominated the query.)
    sparse = (
        bg.select("gram", seeds)
        .select(pos.alias("__p"))
        .select(word, mask)
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    dense = [0] * nwords
    for r in sparse:
        dense[int(r["w"])] = int(r["bits"])
    spark = train.sparkSession
    bitmap = spark.createDataFrame([(dense,)], "__bm array<bigint>")
    tg = with_shingles(train, text_col, n, "__g").select(
        id_col, F.explode("__g").alias("gram")
    )

    # membership is evaluated MAP-SIDE per gram row (crossJoin of the
    # broadcast one-row bitmap + num_hashes unrolled getbit probes — a
    # static AND chain, so it stays inside whole-stage codegen; a
    # forall-lambda form was measured ~2× slower, interpreted): the train
    # side reaches its first shuffle only AFTER the Bloom filter has
    # dropped non-candidates — the whole point of the operator. An earlier
    # form aggregated per (doc, gram) BEFORE filtering, shuffling the
    # entire exploded gram stream.
    cond = None
    for s_i in range(num_hashes):
        p = F.pmod(F.xxhash64(F.col("gram"), F.lit(s_i)), F.lit(num_bits))
        hit = (
            F.getbit(
                F.element_at(F.col("__bm"), (p / 64).cast("int") + 1),
                (p % 64).cast("int"),
            )
            == 1
        )
        cond = hit if cond is None else (cond & hit)
    checked = (
        tg.crossJoin(F.broadcast(bitmap)).filter(cond).select(id_col, "gram")
    )
    # exact confirm: only Bloom survivors enter the gram join
    return checked.join(bg, "gram", "left_semi").select(id_col).distinct()


def bpe_train(
    df: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> DataFrame:
    """Iterative BPE tokenizer training (Sennrich et al., ACL 2016):
    learn ``n_merges`` merge rules by repeatedly merging the most frequent
    adjacent symbol pair. ``bpe_pair_counts`` is round 1's statistic; this
    runs the whole loop.

    Scale design — the shape every production BPE trainer uses: the corpus
    is reduced ONCE to the (word, count) vocabulary table (the only
    corpus-scale shuffle; everything after is |vocab|-bound, independent of
    corpus size). Each round then costs one map-side-combined pair-count
    aggregate over the vocab table plus a 1-row argmax collect; the merge
    is applied as a JVM-side left fold over the symbol arrays (greedy
    left-to-right non-overlapping, the reference semantics) — no Python
    UDF anywhere. ``localCheckpoint`` truncates lineage each round so the
    plan stays one round deep regardless of n_merges (the connected-
    components pattern from dedup.py).

    Ties break by (count DESC, left ASC, right ASC) — deterministic across
    partitionings and engines. Stops early when no pair reaches
    ``min_pair_count``.

    Output: (round, left, right, merged, pair_count), one row per learned
    merge, round 1-based in learning order.
    """
    from web_analytics_on_aws_spark.functions import token_split

    spark = df.sparkSession
    words = (
        df.select(F.explode(token_split(F.col(text_col))).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ).alias("syms"),
            "cnt",
        )
        .localCheckpoint()
    )
    merges = []
    for rnd in range(1, n_merges + 1):
        pair_rows = (
            words.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("syms") - 2),
                        lambda i: F.struct(
                            F.element_at("syms", i + 1).alias("l"),
                            F.element_at("syms", i + 2).alias("r"),
                        ),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.desc("pc"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not pair_rows or pair_rows[0]["pc"] < min_pair_count:
            break
        a, b, pc = pair_rows[0]["l"], pair_rows[0]["r"], int(pair_rows[0]["pc"])
        merged = a + b
        merges.append((rnd, a, b, merged, pc))
        la, lb, lm = F.lit(a), F.lit(b), F.lit(merged)
        words = words.select(
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == la)
                    & (s == lb),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(lm)
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("syms"),
            "cnt",
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "round int, left string, right string, merged string, pair_count bigint"
    )


def remove_duplicated_spans(
    df: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact-substring dedup — the REMOVAL half of Lee et al.
    (ACL 2022): every k-token window occurring in ≥2 distinct documents is
    cut out of the text (overlapping duplicated windows merge naturally:
    a token survives iff NO duplicated window covers it). The census half
    is ``duplicated_window_stats``; this emits the cleaned corpus.

    Plan: the same explode → digest-groupBy census finds cross-doc window
    hashes; duplicated window START offsets come back to each doc as a
    sorted array (bounded by windows-per-doc); the cut itself is a
    row-local JVM expression (position filter against the start array) —
    no Python, no second corpus shuffle beyond the census join-back.

    Output: (id_col, n_tokens, n_removed, cleaned_text).
    """
    from web_analytics_on_aws_spark.functions import token_split

    toks = df.select(id_col, token_split(F.col(text_col)).alias("__t"))
    w = toks.select(
        id_col,
        "__t",
        F.explode(
            F.when(
                F.size("__t") >= k,
                F.sequence(F.lit(0), F.size("__t") - k),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__i"),
    ).select(
        id_col,
        "__i",
        F.md5(F.concat_ws(" ", F.slice("__t", F.col("__i") + 1, k))).alias("__h"),
    )
    dup = (
        w.groupBy("__h")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__h")
    )
    starts = (
        w.join(dup, "__h")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("__i")).alias("__ss"))
    )
    cut = (
        toks.join(starts, id_col, "left")
        .withColumn("__ss", F.coalesce("__ss", F.array().cast("array<int>")))
        .select(
            id_col,
            F.size("__t").cast("bigint").alias("n_tokens"),
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.size("__t") - 1),
                    lambda j: F.struct(
                        j.alias("j"),
                        F.element_at("__t", j + 1).alias("tok"),
                    ),
                ),
                lambda x: ~F.exists(
                    F.col("__ss"),
                    lambda s: (s <= x["j"]) & (x["j"] < s + k),
                ),
            ).alias("__kept"),
        )
    )
    return cut.select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.size("__kept")).cast("bigint").alias("n_removed"),
        F.concat_ws(" ", F.transform("__kept", lambda x: x["tok"])).alias(
            "cleaned_text"
        ),
    )


def bpe_encode(
    df: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_every: int = 16,
) -> DataFrame:
    """Apply a learned BPE merge list (``bpe_train`` output, or an ordered
    ``(left, right, merged)`` list) to text: each word starts as its
    character symbols and every rule is applied as the same greedy
    left-to-right JVM fold the trainer used — train and encode can never
    disagree on merge semantics.

    Scale: map-only (no shuffle, no Python); the rules ride the plan as
    literals (a tokenizer's merge list is KBs). Each rule adds one nested
    HOF layer, so the plan is ``localCheckpoint``-truncated every
    ``checkpoint_every`` rules to keep codegen depth bounded — the
    standard deep-expression-chain treatment (same pattern as the
    trainer's rounds).

    Output: (id_col, tokens array<string>, n_tokens)."""
    from web_analytics_on_aws_spark.functions import token_split

    if hasattr(merges, "collect"):
        merges = [
            (r["left"], r["right"], r["merged"])
            for r in merges.orderBy("round").collect()
        ]
    out = df.select(
        id_col,
        F.transform(
            token_split(F.col(text_col)),
            lambda w: F.transform(
                F.sequence(F.lit(1), F.length(w)),
                lambda i: w.substr(i, F.lit(1)),
            ),
        ).alias("__wsyms"),
    )
    for idx, (a, b, m) in enumerate(merges, 1):
        la, lb, lm = F.lit(a), F.lit(b), F.lit(m)
        out = out.select(
            id_col,
            F.transform(
                "__wsyms",
                lambda ws: F.aggregate(
                    ws,
                    F.array().cast("array<string>"),
                    lambda acc, s: F.when(
                        (F.size(acc) > 0)
                        & (F.element_at(acc, -1) == la)  # noqa: B023
                        & (s == lb),  # noqa: B023
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1),
                            F.array(lm),  # noqa: B023
                        ),
                    ).otherwise(F.concat(acc, F.array(s))),
                ),
            ).alias("__wsyms"),
        )
        if idx % checkpoint_every == 0:
            out = out.localCheckpoint()
    return out.select(
        id_col,
        F.flatten("__wsyms").alias("tokens"),
        F.size(F.flatten("__wsyms")).alias("n_tokens"),
    )



def _per_query_topk(scored: DataFrame, score_col: str, k: int, id_col: str):
    """Shared per-query top-k: rank by (score desc, id asc), keep 1..k —
    one definition so the retrievers' tie-break semantics cannot drift."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def corpus_term_freqs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """One corpus tokenization reduced to (id, term, tf) — THE shared
    upstream of every lexical retriever: BM25 derives tf/dl/df from it and
    Jaccard's distinct-term sets are exactly its keys.

    ``materialize=True`` localCheckpoints the result so every consumer
    reads the computed (id, term, tf) blocks instead of re-running
    scan→tokenize→explode→agg. Measured (r12): Catalyst's exchange reuse
    does NOT fire across the retrievers' consumers — each one prunes
    different columns out of the aggregate, so the canonicalized subplans
    differ and the corpus was scanned+exploded once per consumer (6× in
    text_bm25_topk's executed plan, 0 ReusedExchange). Materializing the
    inverted index once is the guide §2.4/§3.3 move: the tf table is far
    smaller than the token stream that builds it, and at 100 TB re-reading
    it beats 4-6 full corpus tokenizations. Set it whenever more than one
    consumer derives from the same tf (bm25 internally, hybrid stacks)."""
    from web_analytics_on_aws_spark.functions import token_split

    tf = (
        df.select(
            F.col(id_col),
            F.explode(token_split(F.col(text_col))).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    return tf.localCheckpoint() if materialize else tf


def bm25_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_frac: float | None = None,
    term_freqs: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 full-text retrieval (Robertson et al., TREC-3; the
    Lucene-style idf variant): each document in ``query_ids`` acts as a
    query (its DISTINCT terms), every other document is scored by

        Σ_t  ln(1 + (N - df_t + ½)/(df_t + ½)) ·
             tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))

    and the top-``k`` per query are returned — the lexical-retrieval
    complement to the embedding ANN operators (hybrid search = union the
    two candidate sets and re-rank).

    Plan shape: ONE corpus tokenization feeds tf, dl, df and the query
    term sets (no second scan); corpus-size and avgdl scalars ride as
    broadcast 1-row aggregates; the score join is an inverted-index join
    on ``term`` (posting lists — never a cross join), then one partial-agg
    shuffle on (query, doc) and a per-query top-k window. At 100 TB the
    posting-list join is the standard search shard shape: df-capped stop
    terms (cap before join, as text_sparse_cosine does) bound the longest
    list.

    ``max_df_frac`` (the scale knob): terms whose document frequency
    exceeds that fraction of the corpus are pruned BEFORE the posting-list
    join — stop-term lists are the longest by far, and at 100 TB bounding
    them is what keeps the join shard-sized (same cap discipline as the
    capped sparse-cosine twin). None = exact BM25 over every term (the
    oracle-checked default).

    ``term_freqs``: a pre-built :func:`corpus_term_freqs` DataFrame to
    share ONE tokenization across co-running retrievers (hybrid search).

    Output: (query_id, doc_id, score — rounded to 6, rank 1..k)."""
    tf = (
        term_freqs
        if term_freqs is not None
        # 4 consumers derive from tf (dl/dfreq/qterms/score join) —
        # materialize it once (see corpus_term_freqs: exchange reuse does
        # not fire across differently-pruned consumers)
        else corpus_term_freqs(df, text_col, id_col, materialize=True)
    )
    # dl from tf, not a second pass over toks: the corpus is tokenized
    # ONCE (materialized above when built here; review r3.2 finding)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = df.agg(F.count("*").alias("n_docs"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    if max_df_frac is not None:
        dfreq = dfreq.crossJoin(F.broadcast(n)).filter(
            F.col("df") <= F.col("n_docs") * F.lit(max_df_frac)
        ).select("term", "df")
    qterms = (
        tf.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), "term")
        .distinct()
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        qterms.join(tf, "term")
        .filter(F.col(id_col) != F.col("query_id"))
        .join(dfreq, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(avgdl))
        .select(
            "query_id",
            id_col,
            (idf * F.col("tf") * F.lit(k1 + 1.0) / denom).alias("__s"),
        )
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
    )
    return _per_query_topk(scored, "score", k, id_col)


def jaccard_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    term_freqs: DataFrame | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Distinct-term Jaccard retrieval: score = |terms_q ∩ terms_d| /
    |terms_q ∪ terms_d| — the set-overlap retriever (integer counts, one
    exact division). Same inverted-index join shape as bm25_topk.
    ``term_freqs`` (a :func:`corpus_term_freqs` frame) supplies the
    distinct (id, term) pairs — its keys ARE the term sets — so a hybrid
    stack tokenizes the corpus once for all lexical retrievers.
    Output: (query_id, doc_id, score rounded to 6, rank 1..k)."""
    if term_freqs is not None:
        terms = term_freqs.select(F.col(id_col), "term")
    else:
        from web_analytics_on_aws_spark.functions import token_split

        # 3 consumers (sizes, query sets, the posting join) — callers opt
        # in to materializing the distinct term sets once (see
        # corpus_term_freqs); the library default stays lazy so plan
        # construction never runs Spark jobs (ADVICE r12)
        terms = df.select(
            F.col(id_col),
            F.explode(token_split(F.col(text_col))).alias("term"),
        ).distinct()
        if materialize:
            terms = terms.localCheckpoint()
    sizes = terms.groupBy(id_col).agg(F.count("*").alias("n_terms"))
    q = terms.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "term"
    )
    qsizes = sizes.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("n_terms").alias("qn")
    )
    inter = (
        q.join(terms, "term")
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.count("*").alias("inter"))
    )
    scored = (
        inter.join(sizes, id_col)
        .join(F.broadcast(qsizes), "query_id")
        .select(
            "query_id",
            id_col,
            F.round(
                F.col("inter").cast("double")
                / (F.col("qn") + F.col("n_terms") - F.col("inter")),
                6,
            ).alias("score"),
        )
    )
    return _per_query_topk(scored, "score", k, id_col)


def rrf_fuse(
    rank_lists: list[DataFrame],
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    decimal_exact: bool = False,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009): fuse any
    number of retrievers' (query_id, doc_id, rank) lists by
    ``Σ 1/(c + rank)`` — the standard hybrid-search combiner (lexical +
    dense candidates in, one ranking out), rank-only so incomparable
    scores never need calibration. A doc missing from a list simply
    contributes nothing. Exact arithmetic: each term is one double
    division; the sum has ≤ len(rank_lists) addends in a fixed fold.
    Every input list must carry (query_id, ``id_col``, rank) — query_id
    is part of the fixed contract (the three retrievers above all emit
    it). ``decimal_exact`` routes each 1/(c+rank) addend through a
    fixed-scale decimal cast before summing: a 2-addend IEEE sum is
    order-exact by itself, but from 3 lists up the float sum becomes
    order-dependent — decimal accumulation keeps the fused score
    engine-order-free (the same trick the attribution sums use). Output:
    (query_id, doc_id, rrf_score rounded to 9, rank 1..k)."""
    from functools import reduce

    if not rank_lists:
        raise ValueError("rrf_fuse needs at least one (query_id, id, rank) list")
    contribs = [
        df.select(
            "query_id",
            id_col,
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rank"))).alias("__c"),
        )
        for df in rank_lists
    ]
    unioned = reduce(lambda a, b: a.unionByName(b), contribs)
    addend = (
        F.col("__c").cast("decimal(20,18)") if decimal_exact else F.col("__c")
    )
    total = F.sum(addend)
    if decimal_exact:
        total = total.cast("double")
    scored = unioned.groupBy("query_id", id_col).agg(
        F.round(total, 9).alias("rrf_score")
    )
    return _per_query_topk(scored, "rrf_score", k, id_col)
