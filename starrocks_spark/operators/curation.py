"""Training-corpus curation operators: sequence packing, deterministic
splits, repetition-based quality filtering, and PII redaction.

These are the post-dedup stages of a large-scale LLM data pipeline —
the reference covers the storage/query side (SURVEY.md §2); these
extend it with the shard-preparation operators a 100 TB corpus needs
before tokenization. All are built-in-expression plans (no Python row
UDFs); each has a DuckDB SQL twin for the oracle gate.

Scale design notes
------------------
* ``pack_sequences`` needs a GLOBAL running token offset per stream
  (source). A naive ``SUM() OVER (PARTITION BY source ORDER BY doc_id
  ROWS UNBOUNDED PRECEDING)`` puts one source's entire corpus through a
  single window partition — the classic single-reducer bottleneck at
  100 TB. Instead we compute a **distributed prefix sum**: local
  running sums inside (source, range-bucket) window partitions, a
  tiny per-bucket totals aggregate (one row per bucket), a cumulative
  offset over that small table, and a broadcast join back. Wall-clock
  is two narrow shuffles + one broadcast; no partition ever holds more
  than one bucket's rows.
* ``hash_split`` is embarrassingly parallel (row-local md5 bucket).
* ``gopher_repetition`` explodes word n-grams but aggregates them
  per-document — the shuffle key is (doc_id), so cardinality grows
  linearly with the corpus and skew is bounded by document length.
* ``pii_redact`` is row-local regexp work that stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from starrocks_spark.functions import text as T

# ---------------------------------------------------------------------------
# deterministic hash split (train/val/test)

#: split-name → percent of the 100-bucket hash space, in label order.
DEFAULT_SPLITS: dict[str, int] = {"train": 96, "val": 2, "test": 2}


def split_label(key: Column, splits: dict[str, int] | None = None) -> Column:
    """Stable train/val/test label from a 60-bit md5 bucket of ``key``.

    Documents keep their split across reruns and cluster sizes — the
    property that prevents eval-set contamination when the corpus is
    regenerated. (Reference analog: EXCEPT/hash-bucket sampling idioms;
    the md5 bucketing matches functions/text.py hash60.)
    """
    splits = splits or DEFAULT_SPLITS
    if sum(splits.values()) != 100:
        # a bare assert vanishes under -O and rows outside the covered
        # bucket range would silently get NULL labels
        raise ValueError("split percents must total 100")
    bucket = T.hash60(key.cast("string")) % 100
    expr = None
    lo = 0
    for name, pct in splits.items():
        cond = (bucket >= lo) & (bucket < lo + pct)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += pct
    return expr


def sql_split_label(key: str, splits: dict[str, int] | None = None) -> str:
    splits = splits or DEFAULT_SPLITS
    if sum(splits.values()) != 100:
        raise ValueError("split percents must total 100")
    bucket = f"({T.sql_hash60(f'CAST({key} AS VARCHAR)')} % 100)"
    parts = []
    lo = 0
    for name, pct in splits.items():
        # quote-escape like sql_mix_sample — a split name containing a
        # quote must not produce broken/injectable SQL
        parts.append(
            f"WHEN {bucket} >= {lo} AND {bucket} < {lo + pct} "
            "THEN '{}'".format(name.replace("'", "''"))
        )
        lo += pct
    return "CASE " + " ".join(parts) + " END"


# ---------------------------------------------------------------------------
# sequence packing (concat-stream sharding)

def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    stream_col: str = "source",
    order_col: str = "doc_id",
    bucket_width: int = 4096,
) -> DataFrame:
    """Assign each document a (shard_id, offset) in the concatenated
    token stream of its ``stream_col``, cut into ``budget``-token
    shards — the standard pack-then-slice layout for pretraining data.

    Distributed prefix sum (see module docstring): the running offset
    is exact and deterministic, but no window partition ever exceeds
    one (stream, bucket) range of ``bucket_width`` ids.

    Returns one row per document: stream, doc_id, n_tok, start,
    shard_id, offset.
    """
    ws, bpe = T.token_counts(F.col("text"))
    base = docs.select(
        F.col(stream_col).alias("stream"),
        F.col(order_col).alias("oid"),
        bpe.cast("long").alias("n_tok"),
        F.floor(F.col(order_col) / bucket_width).alias("_bkt"),
    )
    local_w = (
        Window.partitionBy("stream", "_bkt")
        .orderBy("oid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # materialize the windowed rows once — the per-bucket totals derive
    # from the SAME pass, so the regex tokenization (the dominant scan
    # cost at corpus scale) never runs twice. localCheckpoint persists
    # its RDD just as persist() would, and nothing here unpersists it:
    # it is freed only when the JVM's ContextCleaner finds the RDD
    # garbage, not when the result is dropped. Measured at sf0.01: 3
    # calls in a fresh session grew getPersistentRDDs() 1 -> 2 -> 3
    local = base.withColumn(
        "_local_end", F.sum("n_tok").over(local_w)
    ).localCheckpoint(eager=False)
    # one row per (stream, bucket): total tokens — metadata-scale
    totals = local.groupBy("stream", "_bkt").agg(
        F.sum("n_tok").alias("_bkt_tok")
    )
    off_w = (
        Window.partitionBy("stream")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "_bkt_off", F.coalesce(F.sum("_bkt_tok").over(off_w), F.lit(0))
    ).select("stream", "_bkt", "_bkt_off")
    packed = (
        local.join(F.broadcast(offsets), ["stream", "_bkt"])
        .select(
            "stream",
            F.col("oid").alias(order_col),
            "n_tok",
            (F.col("_bkt_off") + F.col("_local_end") - F.col("n_tok"))
            .alias("start"),
        )
        .withColumn("shard_id", F.floor(F.col("start") / budget))
        .withColumn("offset", F.col("start") % budget)
    )
    return packed


def sql_pack_sequences(budget: int = 2048, stream_col: str = "source",
                       order_col: str = "doc_id",
                       table: str = "documents") -> str:
    """Oracle twin: the straightforward single-window cumsum — which
    cross-checks the distributed prefix sum EXACTLY, not just
    statistically."""
    _, bpe = T.sql_token_counts("text")
    return f"""
SELECT {stream_col} AS stream, {order_col},
       CAST({bpe} AS BIGINT) AS n_tok,
       CAST(SUM({bpe}) OVER (PARTITION BY {stream_col} ORDER BY {order_col}
            ROWS UNBOUNDED PRECEDING) - {bpe} AS BIGINT) AS start,
       CAST(FLOOR((SUM({bpe}) OVER (PARTITION BY {stream_col}
            ORDER BY {order_col} ROWS UNBOUNDED PRECEDING) - {bpe})
            / {budget}) AS BIGINT) AS shard_id,
       CAST((SUM({bpe}) OVER (PARTITION BY {stream_col} ORDER BY {order_col}
            ROWS UNBOUNDED PRECEDING) - {bpe}) % {budget} AS BIGINT)
         AS offset
FROM {table}
"""


# ---------------------------------------------------------------------------
# Gopher-style repetition metrics

def _word_grams(words: Column, n: int) -> Column:
    """ALL word n-grams, duplicates preserved (text.shingles dedupes,
    which is right for MinHash but would zero out repetition counts).
    Docs shorter than n words yield no grams."""
    # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty
    # (DuckDB's generate_series(1, 0) IS empty) — so short docs must
    # be handled explicitly for the two engines to agree
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _sql_word_grams(words: str, n: int) -> str:
    return (
        f"[array_to_string(list_slice({words}, i, i + {n - 1}), ' ') "
        f"FOR i IN generate_series(1, greatest(len({words}) - {n - 1}, 0))]"
    )


def gopher_repetition(docs: DataFrame, n: int = 2,
                      top_frac_max: float = 0.20,
                      min_words: int = 50) -> DataFrame:
    """Per-document repetition metrics à la Gopher rules: the fraction
    of the document occupied by its single most-frequent word n-gram,
    plus word count — and the keep/drop decision.

    Per-doc n-gram aggregation shuffles on (doc_id, gram): linear in
    corpus size, bounded per-key by document length.

    Returns ONE ROW PER INPUT DOCUMENT: doc_id, n_words, n_grams,
    top_gram_count, top_gram_frac, keep. Documents with fewer than
    ``n`` words have no grams — they come back with zero counts, NULL
    frac, and keep=false (round-5 advice: the earlier explode-only
    shape silently dropped them, so a consumer anti-joining drops
    would pass short docs through unfiltered).
    """
    # ONE pass: explode_outer keeps gram-less (short) docs as a NULL-
    # gram row, so n_words rides the explode and the per-doc metrics
    # fold out of two aggregations — the earlier two-branch shape
    # (base ⋈ per_doc left join) evaluated norm_words twice and paid a
    # join + broadcast exchange to recombine what one scan already had
    # (r13, guide §2.4 "remove shuffles outright")
    exploded = docs.select(
        "doc_id", T.norm_words(F.col("text")).alias("w")
    ).select(
        "doc_id",
        F.size("w").cast("long").alias("_nw"),
        F.explode_outer(_word_grams(F.col("w"), n)).alias("gram"),
    )
    per_gram = exploded.groupBy("doc_id", "gram").agg(
        F.max("_nw").alias("_nw"), F.count(F.lit(1)).alias("c")
    )
    gram_c = F.when(F.col("gram").isNotNull(), F.col("c"))
    joined = (
        per_gram.groupBy("doc_id")
        .agg(
            F.max("_nw").alias("n_words"),
            F.coalesce(F.sum(gram_c), F.lit(0)).cast("long")
            .alias("n_grams"),
            F.coalesce(F.max(gram_c), F.lit(0)).cast("long")
            .alias("top_gram_count"),
        )
        .select("doc_id", "n_words", "n_grams", "top_gram_count")
    )
    frac = F.when(
        F.col("n_grams") > 0,
        F.col("top_gram_count").cast("double")
        / F.col("n_grams").cast("double"),
    )
    return joined.select(
        "doc_id", "n_words", "n_grams", "top_gram_count",
        frac.alias("top_gram_frac"),
        (
            (F.col("n_words") >= min_words)
            & (F.col("n_grams") > 0)
            & (frac <= F.lit(top_frac_max))
        ).alias("keep"),
    )


def sql_gopher_repetition(n: int = 2, top_frac_max: float = 0.20,
                          min_words: int = 50,
                          table: str = "documents") -> str:
    words = T.sql_norm_words("text")
    grams = _sql_word_grams("w", n)
    return f"""
WITH w AS (SELECT doc_id, {words} AS w FROM {table}),
g AS (
  SELECT doc_id, unnest({grams}) AS gram FROM w
),
pg AS (
  SELECT doc_id, gram, COUNT(*) AS c
  FROM g GROUP BY doc_id, gram
),
pd AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS _ng,
         CAST(MAX(c) AS BIGINT) AS _tg
  FROM pg GROUP BY doc_id
),
joined AS (
  SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_words,
         COALESCE(pd._ng, 0) AS n_grams,
         COALESCE(pd._tg, 0) AS top_gram_count
  FROM w LEFT JOIN pd ON w.doc_id = pd.doc_id
)
SELECT doc_id, n_words, n_grams, top_gram_count,
       CASE WHEN n_grams > 0
            THEN top_gram_count::DOUBLE / n_grams::DOUBLE END
         AS top_gram_frac,
       (n_words >= {min_words} AND n_grams > 0 AND
        top_gram_count::DOUBLE / n_grams::DOUBLE <= {top_frac_max})
         AS keep
FROM joined
"""


# ---------------------------------------------------------------------------
# PII redaction

#: RE2- and Java-regex-compatible patterns (no lookaround, no
#: backreferences) so Spark and the DuckDB oracle match byte-for-byte.
PII_PATTERNS: dict[str, str] = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone": "[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ip": "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
}


def pii_redact(text: Column) -> dict[str, Column]:
    """Redact emails/phones/IPs to typed placeholders; also return the
    per-kind match counts. Row-local regexp work — whole-stage codegen,
    no shuffle. (Order matters: IP before phone would also match the
    dotted quad; we count each kind on the ORIGINAL text, then apply
    replacements email → phone → ip.)"""
    out: dict[str, Column] = {}
    clean = text
    for kind, pat in PII_PATTERNS.items():
        out[f"n_{kind}"] = F.size(
            F.regexp_extract_all(text, F.lit(pat), 0)
        ).cast("long")
        clean = F.regexp_replace(clean, pat, f"<{kind.upper()}>")
    out["clean"] = clean
    return out


def sql_pii_redact(text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    clean = text
    for kind, pat in PII_PATTERNS.items():
        out[f"n_{kind}"] = (
            f"CAST(len(regexp_extract_all({text}, '{pat}')) AS BIGINT)"
        )
        clean = (
            f"regexp_replace({clean}, '{pat}', '<{kind.upper()}>', 'g')"
        )
    out["clean"] = clean
    return out


# ---------------------------------------------------------------------------
# eval-set decontamination

def ngram_contamination(train: DataFrame, eval_df: DataFrame,
                        n: int = 8,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        eval_broadcast: bool = True) -> DataFrame:
    """Benchmark decontamination (GPT-3/PaLM style): flag training
    documents sharing any word n-gram with the eval set.

    Eval benchmarks are constant-size, so by default the eval side's
    distinct gram hashes BROADCAST and the check is a map-side
    semi-join — the training corpus is scanned once, no shuffle of
    training grams. If the eval gram set exceeds the broadcast budget
    (rule of thumb: > ~100 M distinct 8-byte hashes ≈ the executor-
    memory headroom a broadcast build consumes), pass
    ``eval_broadcast=False`` to fall back to a shuffle join on the
    gram hash — both sides shuffle once on ``_g``, still linear.
    Returns (train doc id, n_hits, first overlapping gram hash).
    """
    def gram_hashes(df: DataFrame) -> DataFrame:
        # STRICT n-grams (no shorter-than-n fallback): T.shingles emits
        # the full text as a single shingle for short docs — right for
        # MinHash coverage, but here it would flag a sub-n-gram match
        # as an n-gram collision.
        # The word array is MATERIALIZED as a column before the gram
        # transform: _word_grams references it inside an HOF lambda,
        # which re-evaluates captured expressions per element — an
        # inline norm_words would re-run the regex tokenization once
        # per gram position (quadratic per document; measured 10 s of
        # the old 11.5 s bench cost at sf0.1).
        w = df.select(
            F.col(id_col).alias("_id"),
            T.norm_words(F.col(text_col)).alias("_w"),
        )
        grams = F.array_distinct(_word_grams(F.col("_w"), n))
        return w.select(
            "_id",
            F.explode(F.transform(grams, T.hash60)).alias("_g"),
        )

    eval_grams = gram_hashes(eval_df).select("_g").distinct()
    if eval_broadcast:
        eval_grams = F.broadcast(eval_grams)
    hits = gram_hashes(train).join(eval_grams, "_g")
    return (
        hits.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("_g").alias("first_gram_hash"),
        )
        .select(F.col("_id").alias(id_col), "n_hits", "first_gram_hash")
    )


def sql_ngram_contamination(train_src: str, eval_src: str,
                            n: int = 8) -> str:
    words = T.sql_norm_words("text")
    grams = (
        f"list_transform(list_distinct({_sql_word_grams(words, n)}), "
        f"s -> {T.sql_hash60('s')})"
    )
    return f"""
WITH eg AS (
  SELECT DISTINCT unnest({grams}) AS g FROM ({eval_src})
),
tg AS (
  SELECT doc_id, unnest({grams}) AS g FROM ({train_src})
)
SELECT doc_id, COUNT(*) AS n_hits,
       MIN(g) AS first_gram_hash
FROM tg JOIN eg USING (g)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# deterministic corpus mixing

def mix_sample(docs: DataFrame, weights: dict[str, float],
               source_col: str = "source",
               id_col: str = "doc_id") -> DataFrame:
    """Source-weighted deterministic sampling (the data-mixing step of
    corpus assembly): keep a document when its md5 bucket (of id) falls
    under its source's rate. Stable across reruns and cluster layouts —
    the same property as split_label — and row-local (no shuffle; the
    rates ride in a CASE expression)."""
    if not weights:
        raise ValueError("mix_sample needs at least one source weight")
    for src, rate in weights.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {src} must be in [0, 1]")
    bucket = (T.hash60(F.col(id_col).cast("string")) % 10_000).cast(
        "double"
    ) / 10_000.0
    rate_expr = None
    for src, rate in weights.items():
        cond = F.col(source_col) == src
        rate_expr = (F.when(cond, rate) if rate_expr is None
                     else rate_expr.when(cond, rate))
    rate_expr = rate_expr.otherwise(F.lit(0.0))
    return docs.filter(bucket < rate_expr)


def sql_mix_sample(weights: dict[str, float],
                   source_col: str = "source",
                   id_col: str = "doc_id",
                   table: str = "documents") -> str:
    if not weights:
        raise ValueError("mix_sample needs at least one source weight")
    cases = " ".join(
        "WHEN {} = '{}' THEN {!r}".format(
            source_col, src.replace("'", "''"), r
        )
        for src, r in weights.items()
    )
    bucket = (
        f"(({T.sql_hash60(f'CAST({id_col} AS VARCHAR)')} % 10000)::DOUBLE"
        f" / 10000.0)"
    )
    return (
        f"SELECT * FROM {table} "
        f"WHERE {bucket} < (CASE {cases} ELSE 0.0 END)"
    )


# ---------------------------------------------------------------------------
# document chunking (overlapping token windows)

def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    stride: int = 48,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split each document into OVERLAPPING word-token chunks of
    ``chunk_tokens`` with step ``stride`` — the context-window
    chunking step of a pretraining/RAG pipeline (packing's sibling:
    packing concatenates short docs, chunking splits long ones).

    Row-local: tokenization once per doc (materialized column — see
    the HOF re-eval contract), chunk starts from a ``sequence``, one
    explode. The final chunk is the remainder (shorter than
    ``chunk_tokens``); documents shorter than one chunk yield exactly
    one chunk. Linear in corpus size; no shuffle at all.

    Returns (id, chunk_id, start_tok, n_tokens, chunk_text).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if stride > chunk_tokens:
        raise ValueError("stride > chunk_tokens would drop tokens")
    w = docs.select(
        F.col(id_col), T.norm_words(F.col(text_col)).alias("_w")
    )
    n = F.size("_w")
    # chunk starts: 1, 1+stride, ...; the LAST start is
    # 1 + stride*ceil(max(n-chunk,0)/stride) so the tail is always
    # covered (the final chunk is the remainder, shorter than
    # chunk_tokens, whenever (n-chunk) % stride != 0).
    overshoot = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
    last_start = F.lit(1) + F.lit(stride) * F.floor(
        (overshoot + F.lit(stride - 1)) / F.lit(stride)
    ).cast("int")
    starts = F.sequence(F.lit(1), last_start, F.lit(stride))
    chunks = w.select(
        id_col,
        F.posexplode(starts).alias("chunk_id", "start_tok"),
        F.col("_w"),
    )
    piece = F.slice(F.col("_w"), F.col("start_tok"), chunk_tokens)
    return chunks.select(
        id_col, "chunk_id", "start_tok",
        F.size(piece).cast("long").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def sql_chunk_documents(chunk_tokens: int = 64, stride: int = 48,
                        table: str = "documents") -> str:
    words = T.sql_norm_words("text")
    last = (
        f"1 + {stride} * ((greatest(len(w) - {chunk_tokens}, 0)"
        f" + {stride - 1}) // {stride})"
    )
    return f"""
WITH w AS (SELECT doc_id, {words} AS w FROM {table}),
starts AS (
  SELECT doc_id, w,
         generate_subscripts(
           [x FOR x IN generate_series(1, {last}, {stride})],
           1) - 1 AS chunk_id,
         unnest([x FOR x IN generate_series(1, {last}, {stride})])
           AS start_tok
  FROM w
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(len(list_slice(w, start_tok,
                           start_tok + {chunk_tokens} - 1)) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(w, start_tok,
                                  start_tok + {chunk_tokens} - 1), ' ')
         AS chunk_text
FROM starts
"""
