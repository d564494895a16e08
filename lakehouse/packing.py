"""Sequence packing for LLM pretraining (concat-and-chunk).

The standard GPT-style pretraining layout: concatenate every document's
tokens in a deterministic corpus order (doc_id) into one virtual token
stream, then cut the stream into fixed-``capacity`` training sequences.
A document can span two (or more) sequences; the output maps each
(doc, sequence) overlap with its offsets, which is exactly what a
loader needs to assemble batches.

Output schema — one row per (doc_id, seq_id) overlap:

- ``seq_id``   — which training sequence the slice lands in
- ``doc_off``  — first packed token's offset inside the document
- ``seq_off``  — where the slice starts inside the sequence
- ``n_tok``    — slice length; per doc these sum to its token count,
  per seq they sum to ``capacity`` (except the final partial sequence)

Scale design — the whole problem is one exclusive prefix sum over
token counts in doc_id order. A naive ``Window.orderBy(doc_id)`` with
no partition key collapses 10^12 rows onto ONE task; instead this is
the classic two-pass distributed scan:

1. bucket docs by ``doc_id DIV bucket_width`` and cumsum WITHIN each
   bucket (hash-partitioned window — parallel, one shuffle);
2. aggregate per-bucket totals (tiny: |docs| / bucket_width rows),
   exclusive-cumsum THEM on a single partition that is ~10^6× smaller
   than the data, and join the offsets back (no broadcast
   hint — AQE broadcasts while tiny, shuffles when not).

Everything is JVM built-ins (split/size/sequence/explode/DIV) — no
Python UDF, no row ordering assumptions beyond the deterministic
doc_id sort key. The DuckDB oracle runs the plain single-node window
formulation of the same algebra, so the distributed scan is checked
value-for-value against the textbook definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textops import token_count_ws

DEFAULT_BUCKET_WIDTH = 4096


def pack_sequences(
    df: DataFrame,
    capacity: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_width: int = DEFAULT_BUCKET_WIDTH,
) -> DataFrame:
    """Assign every document's tokens to fixed-size training sequences.

    ``bucket_width`` trades parallelism for reduction size: buckets of
    ~4k docs keep each window task small while the bucket-total frame
    stays tiny enough to scan on one partition (10^12 docs / 4096 ≈
    2.4 × 10^8 bucket rows — at that extreme, raise the width or apply
    the same two-pass scheme recursively; the algebra is associative).
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        token_count_ws(F.col(text_col)).cast("long").alias("tok"),
        # integer DIV, not float-divide-then-truncate: exact for the
        # full bigint id range
        F.expr(f"CAST({id_col} AS BIGINT) DIV {int(bucket_width)}").alias(
            "bkt"
        ),
    )
    in_bucket = Window.partitionBy("bkt").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_local = toks.withColumn(
        "cum_local", F.sum("tok").over(in_bucket)
    )
    bucket_order = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        toks.groupBy("bkt")
        .agg(F.sum("tok").alias("btot"))
        .withColumn(
            "boff", F.sum("btot").over(bucket_order) - F.col("btot")
        )
        .select("bkt", "boff")
    )
    # exclusive global offset of each doc's first token in the stream
    # no broadcast HINT: AQE auto-broadcasts the tiny offsets frame at
    # bench scale, and falls back to a shuffle join when the bucket
    # count itself is huge (10^12 docs / width) — a forced broadcast
    # would OOM the driver exactly at the scale this op exists for
    placed = with_local.join(offsets, "bkt").select(
        "doc_id",
        "tok",
        (F.col("boff") + F.col("cum_local") - F.col("tok")).alias("s"),
    )
    c = F.lit(int(capacity))
    spans = placed.select(
        "doc_id",
        "tok",
        "s",
        F.explode(
            F.sequence(
                F.expr(f"s DIV {int(capacity)}"),
                F.expr(f"(s + tok - 1) DIV {int(capacity)}"),
            )
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("seq_id") * c, F.col("s"))
    hi = F.least((F.col("seq_id") + F.lit(1)) * c, F.col("s") + F.col("tok"))
    return spans.select(
        "doc_id",
        "seq_id",
        (lo - F.col("s")).alias("doc_off"),
        (lo - F.col("seq_id") * c).alias("seq_off"),
        (hi - lo).alias("n_tok"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking — the other standard LLM
    training-data layout (vs :func:`pack_sequences`' concat-and-chunk):
    each document is cut into windows of ``chunk_tokens`` whitespace
    tokens that advance by ``chunk_tokens - overlap``, so consecutive
    chunks share ``overlap`` tokens of context (the RAG/embedding and
    long-doc SFT recipe). Output: one row per chunk —
    ``(doc_id, chunk_id, start_tok, n_tokens, chunk_text)``.

    Scale shape: pure map — split once, ``sequence``+``explode`` the
    chunk indices, ``slice`` the token array per chunk. No shuffle, no
    Python; chunk fan-out stays inside the row's task. Empty documents
    yield no chunks; a document shorter than one window yields exactly
    one partial chunk.
    """
    if chunk_tokens <= 0 or not 0 <= overlap < chunk_tokens:
        raise ValueError("need chunk_tokens > 0 and 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    tok = F.split(F.col(text_col), " ")
    n = F.size(tok)
    # windows start at i*step while start < n: ceil((n-overlap)/step)
    # chunks for n > overlap, else exactly one (partial) chunk
    n_chunks = F.when(
        n <= F.lit(overlap), F.lit(1)
    ).otherwise(F.ceil((n - F.lit(overlap)) / F.lit(step)).cast("int"))
    base = (
        df.filter(F.length(F.col(text_col)) > 0)  # split('') is ['']
        .select(
            F.col(id_col), tok.alias("_tok"), n.alias("_n"),
            n_chunks.alias("_nc"),
        )
    )
    ch = base.select(
        id_col,
        "_tok",
        "_n",
        F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * step
    return ch.select(
        id_col,
        "chunk_id",
        start.cast("long").alias("start_tok"),
        F.least(F.lit(chunk_tokens), F.col("_n") - start)
        .cast("long")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("_tok"), start + 1, chunk_tokens), " "
        ).alias("chunk_text"),
    )


def chunk_documents_oracle_sql(
    table: str = "documents",
    chunk_tokens: int = 128,
    overlap: int = 16,
    id_sql: str = "doc_id",
) -> str:
    """DuckDB twin: identical window arithmetic over string_split
    (1-based list_slice)."""
    c, o = int(chunk_tokens), int(overlap)
    step = c - o
    return f"""
    WITH t AS (
        SELECT {id_sql} AS doc_id, string_split(text, ' ') AS tok
        FROM {table} WHERE length(text) > 0
    ),
    b AS (
        SELECT doc_id, tok, len(tok) AS n,
               CASE WHEN len(tok) <= {o} THEN 1
                    ELSE CAST(ceil((len(tok) - {o}) * 1.0 / {step}) AS INT)
               END AS nc
        FROM t WHERE len(tok) > 0
    )
    SELECT doc_id,
           i AS chunk_id,
           CAST(i * {step} AS BIGINT) AS start_tok,
           CAST(least({c}, n - i * {step}) AS BIGINT) AS n_tokens,
           list_aggregate(tok[i * {step} + 1 : i * {step} + {c}], 'string_agg', ' ')
               AS chunk_text
    FROM (SELECT b.*, unnest(range(nc)) AS i FROM b)
    """


def bucket_batches(
    df: DataFrame,
    length_col,
    id_col: str = "doc_id",
    batch_size: int = 16,
    bucket_len: int = 64,
    sub_width: int = DEFAULT_BUCKET_WIDTH,
) -> DataFrame:
    """Length-bucketed training-batch assembly (padding minimization).

    Training loaders pad every sequence in a batch to the batch max, so
    batching unsorted corpora wastes compute proportional to the length
    spread. The standard fix (ASR and LLM SFT loaders alike) buckets
    rows by length, then cuts each bucket into fixed-``batch_size``
    batches in deterministic ``id_col`` order. Output is one row per
    batch: ``(bucket, batch_id, n_rows, sum_len, max_len, pad_len)``
    where ``pad_len = n_rows*max_len - sum_len`` is the exact padding
    the batch costs — all integers, so the DuckDB twin is bit-exact.

    Scale design — the per-bucket row numbering is the same two-pass
    distributed prefix sum as :func:`pack_sequences` (a bare
    ``Window.partitionBy(bucket)`` would put an entire popular length
    bucket on ONE task): rank locally within ``(bucket, id DIV
    sub_width)`` sub-buckets, cumsum the tiny per-sub-bucket counts,
    join the offsets back (AQE-chosen broadcast). Buckets are
    fixed-width integer ranges
    (``len DIV bucket_len``) — integer division only, no float log
    whose boundary rounding could diverge between engines.

    ``length_col`` is a Column expression (e.g. ``token_count_ws(...)``
    for text, ``F.col("dur_ms")`` for audio clips).

    ``id_col`` MUST be numeric or castable to BIGINT (and, for numeric
    strings, zero-padded to fixed width so numeric and lexicographic
    order agree): the sub-bucket derivation is ``id DIV sub_width``, and
    sub-bucket order must refine id order for the distributed rank to
    equal the plain per-bucket ``row_number``. A non-castable id (e.g.
    ``clip-00042``) fails LOUDLY at execution — TRY_CAST plus a
    raise_error poison on the unmatched join side, identical in ANSI
    and non-ANSI sessions — instead of silently dropping rows through
    the null-rejecting offsets join (extract a numeric id first, as the
    audio duration-batch query does).
    """
    if batch_size <= 0 or bucket_len <= 0:
        raise ValueError("batch_size and bucket_len must be positive")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(length_col).cast("long").alias("_len")
        if isinstance(length_col, str)
        else length_col.cast("long").alias("_len"),
    ).select(
        "_id",
        "_len",
        F.expr(f"_len DIV {int(bucket_len)}").alias("bucket"),
        F.expr(f"TRY_CAST(_id AS BIGINT) DIV {int(sub_width)}").alias(
            "_sub"
        ),
    )
    local = Window.partitionBy("bucket", "_sub").orderBy("_id")
    ranked = base.withColumn("_rn_local", F.row_number().over(local))
    sub_order = Window.partitionBy("bucket").orderBy("_sub").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        base.groupBy("bucket", "_sub")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_off", F.sum("_cnt").over(sub_order) - F.col("_cnt")
        )
        .select("bucket", "_sub", "_off")
    )
    # same no-hint rationale as pack_sequences: AQE picks broadcast vs
    # shuffle by the offsets frame's actual size. LEFT join + poison:
    # a NULL _sub (id not castable to BIGINT) never equi-matches, so it
    # surfaces as a NULL _off here and raises at execution time — no
    # extra validation pass over the corpus, no silent row drop.
    placed = ranked.join(offsets, ["bucket", "_sub"], "left").select(
        "bucket",
        "_len",
        F.when(
            F.col("_off").isNull(),
            F.expr(
                "raise_error('bucket_batches: id_col must be numeric or "
                "castable to BIGINT (got an id TRY_CAST could not "
                "convert); extract a numeric id first')"
            ).cast("long"),
        )
        .otherwise(
            F.expr(f"(_off + _rn_local - 1) DIV {int(batch_size)}")
        )
        .alias("batch_id"),
    )
    return placed.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_len").alias("sum_len"),
        F.max("_len").alias("max_len"),
        (
            F.count(F.lit(1)) * F.max("_len") - F.sum("_len")
        ).alias("pad_len"),
    )


def bucket_batches_oracle_sql(
    batch_size: int = 16,
    bucket_len: int = 64,
    table: str = "documents",
    length_sql: str = "CAST(len(string_split(text, ' ')) AS BIGINT)",
    id_sql: str = "doc_id",
) -> str:
    """DuckDB twin: plain per-bucket row_number formulation."""
    bs, bl = int(batch_size), int(bucket_len)
    return f"""
    WITH t AS (
        SELECT {id_sql} AS id, {length_sql} AS len FROM {table}
    ),
    b AS (SELECT id, len, len // {bl} AS bucket FROM t),
    r AS (
        SELECT bucket, len,
               row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn
        FROM b
    )
    SELECT bucket, (rn - 1) // {bs} AS batch_id,
           count(*) AS n_rows, CAST(sum(len) AS BIGINT) AS sum_len,
           max(len) AS max_len,
           CAST(count(*) * max(len) - sum(len) AS BIGINT) AS pad_len
    FROM r GROUP BY 1, 2
    """


def pack_sequences_oracle_sql(
    capacity: int = 512, table: str = "documents"
) -> str:
    """DuckDB twin: the textbook single-window prefix-sum formulation
    (the distributed two-pass scan must be value-identical to it)."""
    cap = int(capacity)
    return f"""
    WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        FROM {table}
    ),
    placed AS (
        SELECT doc_id, tok,
               CAST(sum(tok) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) - tok
                    AS BIGINT) AS s
        FROM t
    ),
    spans AS (
        SELECT doc_id, tok, s,
               unnest(generate_series(s // {cap}, (s + tok - 1) // {cap}))
                   AS seq_id
        FROM placed
    )
    SELECT doc_id, seq_id,
           greatest(seq_id * {cap}, s) - s AS doc_off,
           greatest(seq_id * {cap}, s) - seq_id * {cap} AS seq_off,
           least((seq_id + 1) * {cap}, s + tok)
               - greatest(seq_id * {cap}, s) AS n_tok
    FROM spans
    """
