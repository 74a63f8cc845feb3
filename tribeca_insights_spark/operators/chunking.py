"""Document chunking and sequence packing — LLM training/retrieval prep.

Beyond-reference capability (task brief: LLM-data-pipeline operators).
The reference stops at whole-page keyword tables
(tribeca_insights/analysis/keywords.py); a training pipeline must also
(a) cut documents into overlapping retrieval/embedding chunks and
(b) pack the token stream into fixed-length training sequences.  Both
are expressed here as pure DataFrame algebra — array codegen for the
chunker (zero shuffle, embarrassingly parallel), a single partitioned
window for the packer (the partition key IS the scale story).

Scale shape (10^12 docs):

- ``chunk_documents`` never shuffles: tokenize, count, and slice all
  happen inside one whole-stage-codegen Project per input row; the
  explode multiplies rows locally (~n_tokens/stride per doc).  At
  100 TB this is the same map-only plan as extraction — add executors,
  done.
- ``pack_sequences`` concatenates documents *within a group* (here the
  ``source`` column — in production a shard/date bucket) and cuts the
  group's token stream into fixed ``ctx``-token sequences.  The
  cumulative offset is a window partitioned BY THE GROUP — never a
  global unpartitioned window (the q84 lesson: a global cumsum moves
  the corpus to one task).  Groups are independent, so packing
  parallelism = number of shards; production pickers use
  O(10^4-10^5) shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _tokens(text_col: str):
    return F.filter(
        F.split(F.col(text_col), " "), lambda w: F.length(w) > 0
    )


def chunk_documents(
    docs: DataFrame,
    chunk: int = 32,
    stride: int = 24,
) -> DataFrame:
    """(doc_id, chunk_id, start_token, n_tokens, chunk_text): overlapping
    token-window chunks, whitespace tokenization.

    Chunk ``i`` starts at token ``1 + i*stride`` (1-based) and takes up
    to ``chunk`` tokens.  The number of chunks is
    ``1 + ceil(max(0, n - chunk) / stride)`` — the final chunk may be
    short, and no chunk starts beyond the text.  Empty documents
    produce no chunks.  ``stride < chunk`` gives ``chunk - stride``
    tokens of overlap (RAG-style context stitching); full-coverage of
    every token (the property test_chunking pins) holds iff
    ``stride <= chunk`` — a larger stride is legal and means sparse
    strided SAMPLING of the document instead.
    """
    if stride <= 0 or chunk <= 0:
        raise ValueError("chunk and stride must be positive")
    n = F.size(F.col("_t")).cast("long")
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(F.lit(0), n - F.lit(chunk)) + F.lit(stride - 1))
        / F.lit(stride)
    ).cast("long")
    base = docs.select(
        F.col("doc_id"), _tokens("text").alias("_t")
    ).select(
        "doc_id",
        "_t",
        n.alias("_n"),
        # explode(NULL) emits nothing: empty docs vanish here
        F.when(n > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1))
        .alias("_cis"),
    )
    start = F.lit(1) + F.col("chunk_id") * F.lit(stride)
    take = F.least(F.lit(chunk).cast("long"), F.col("_n") - start + 1)
    return (
        base.select(
            "doc_id", "_t", "_n", F.explode("_cis").alias("chunk_id")
        )
        .select(
            "doc_id",
            "chunk_id",
            start.cast("long").alias("start_token"),
            take.cast("long").alias("n_tokens"),
            F.array_join(
                F.slice(F.col("_t"), start.cast("int"), take.cast("int")),
                " ",
            ).alias("chunk_text"),
        )
    )


def pack_sequences(docs: DataFrame, ctx: int = 256) -> DataFrame:
    """(doc_id, group, n_tokens, stream_offset, start_seq, end_seq,
    n_seqs_spanned, offset_in_seq): GPT-style sequence packing.

    Documents within a group are concatenated in ``doc_id`` order into
    one token stream; the stream is cut into consecutive ``ctx``-token
    training sequences.  Each document reports its byte-…er, token
    placement: ``stream_offset`` (tokens before it in the group's
    stream), the first and last sequence index it lands in, and its
    offset inside the first sequence.  Downstream loaders use
    (group, start_seq..end_seq) to materialize batches; documents with
    ``n_seqs_spanned > 1`` cross a sequence boundary (candidates for
    attention-mask resets).

    The window is partitioned by the group — cumulative sums never
    leave a shard, so the plan has one hash Exchange on the group key
    and per-partition sorts only (no single-task global sort).
    """
    if ctx <= 0:
        raise ValueError("ctx must be positive")
    n = F.size(_tokens("text")).cast("long")
    w = (
        Window.partitionBy("group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = docs.select(
        F.col("doc_id"),
        F.col("source").alias("group"),
        n.alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    out = base.select(
        "doc_id",
        "group",
        "n_tokens",
        off.alias("stream_offset"),
    )
    start_seq = F.floor(F.col("stream_offset") / F.lit(ctx)).cast("long")
    end_seq = F.floor(
        (F.col("stream_offset") + F.col("n_tokens") - 1) / F.lit(ctx)
    ).cast("long")
    return out.select(
        "doc_id",
        "group",
        "n_tokens",
        "stream_offset",
        start_seq.alias("start_seq"),
        end_seq.alias("end_seq"),
        (end_seq - start_seq + 1).alias("n_seqs_spanned"),
        (F.col("stream_offset") % F.lit(ctx)).alias("offset_in_seq"),
    )


def packing_efficiency(docs: DataFrame, ctx: int = 256) -> DataFrame:
    """Packing-efficiency report over :func:`pack_sequences`: per
    group, how well the ctx-token training sequences are filled and
    how many documents straddle a sequence boundary — the numbers that
    decide ctx length and whether boundary docs need attention-mask
    resets (wasted tail tokens are paid at every epoch; a 90%-fill
    corpus trains ~11% cheaper per effective token than an 80% one).

    Returns (group, n_docs, total_tokens, n_seqs, fill_micros,
    n_boundary_docs) where ``n_seqs = ceil(total_tokens / ctx)``
    (== max(end_seq)+1 — asserted equal by construction),
    ``fill_micros = 1e6 · total_tokens div (n_seqs · ctx)`` and
    boundary docs have n_seqs_spanned > 1. Pure group-sized aggregate
    above pack_sequences' single group-keyed Exchange.
    """
    packed = pack_sequences(
        docs, ctx=ctx,
    )
    agg = packed.groupBy("group").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.max("end_seq") + 1).cast("bigint").alias("n_seqs"),
        F.sum((F.col("n_seqs_spanned") > 1).cast("long"))
        .cast("bigint").alias("n_boundary_docs"),
    )
    return agg.select(
        F.col("group").alias("source"),
        "n_docs", "total_tokens", "n_seqs",
        F.expr(f"total_tokens * 1000000L div (n_seqs * {ctx}L)")
        .alias("fill_micros"),
        "n_boundary_docs",
    )


def cdc_cuts_udf(gram: int = 4, mod: int = 64):
    """Pandas UDF: content-defined cut positions of a text column.

    Position ``i`` (1-based, ``2 <= i <= len-gram+1``) is a cut iff the
    first 8 hex chars of ``md5(text[i-1 : i-1+gram])`` mod ``mod`` == 0
    — i.e. the boundary depends ONLY on the local gram, never on offsets,
    which is the whole point of content-defined chunking: an insertion
    shifts at most the chunks it touches, so chunk-level dedup still
    matches everything downstream of the edit (LBFS, Muthitacharoen et
    al. SOSP'01). md5-of-gram keeps the rule replayable in any engine;
    a production pass swaps in a gear/Rabin table with identical
    structure. Arrow-batched; one linear scan per document.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cuts(texts):
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            cuts = []
            for i in range(2, len(t) - gram + 2):
                g = t[i - 1:i - 1 + gram].encode("utf-8")
                h = int(hashlib.md5(g).hexdigest()[:8], 16)
                if h % mod == 0:
                    cuts.append(i)
            out.append(cuts)
        return pd.Series(out)

    return pandas_udf(_cuts, "array<long>")


def cdc_chunks(docs: DataFrame, gram: int = 4, mod: int = 64) -> DataFrame:
    """(doc_id, chunk_idx, start, chunk_len, chunk_md5): content-defined
    chunks — the dedup granularity that survives edits. Exact dedup
    hashes whole documents (one changed byte = a new hash); CDC chunk
    hashes make the UNCHANGED chunks of a revised page dedupable, which
    at crawl scale is most of the bytes (snapshot N vs N+1 of the same
    URL).

    Scale shape: the cut scan is an Arrow-batched linear pass per
    document (embarrassingly parallel, zero shuffle); chunk
    materialization is JVM codegen — array ops over the cuts, one
    explode, substring + md5 per chunk. No positional explode ever
    reaches the executor-memory path (a per-CHARACTER row stream at
    10^12 docs would be 10^15 rows; the oracle uses that form only at
    test SF where DuckDB replays the identical rule).
    """
    base = docs.select(
        F.col("doc_id"),
        F.col("text").alias("_t"),
        cdc_cuts_udf(gram, mod)(F.col("text")).alias("_cuts"),
    ).filter(F.length("_t") > 0)
    # starts = [1] ++ cuts ; ends[i] = starts[i+1]-1, last = len
    starts = F.concat(F.array(F.lit(1).cast("long")), F.col("_cuts"))
    withs = base.select(
        "doc_id",
        "_t",
        starts.alias("_starts"),
        F.length("_t").cast("long").alias("_len"),
    )
    idx = withs.select(
        "doc_id",
        "_t",
        "_len",
        "_starts",
        F.posexplode("_starts").alias("chunk_idx", "start"),
    )
    end = F.when(
        F.col("chunk_idx") + 1 < F.size("_starts"),
        F.element_at("_starts", F.col("chunk_idx").cast("int") + 2) - 1,
    ).otherwise(F.col("_len"))
    spans = idx.select(
        "doc_id",
        "_t",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start"),
        (end - F.col("start") + 1).cast("long").alias("chunk_len"),
    )
    return spans.select(
        "doc_id",
        "chunk_idx",
        "start",
        "chunk_len",
        F.md5(
            F.expr("substring(_t, CAST(start AS INT), "
                   "CAST(chunk_len AS INT))")
        ).alias("chunk_md5"),
    )


def contrastive_triplets(docs: DataFrame) -> DataFrame:
    """Deterministic contrastive-triplet mining for embedding-model
    training (the DPR/SimCSE data shape): per document, anchor = the
    first half of its tokens, positive = the second half (two views of
    one document — the standard unsupervised positive), negative = the
    anchor half of the document N/2 away in id order (a corpus-distant
    in-batch negative; no RNG anywhere, so the mined set is
    reproducible and oracle-checkable).

    Output: ``(id, anchor, positive, neg_id, negative)``; documents
    with fewer than 2 tokens are dropped (no second view exists).

    Scale shape: the halves are slice/array_join codegen; the
    negative lookup is ONE equi-join on the derived id (AQE handles
    it as a plain shuffle join — at 10^12 docs the negative table IS
    the corpus, co-partitioned by the same id key). Swap the
    arithmetic negative for q114's BM25 top-k to upgrade to hard
    negatives; the triplet relation shape stays identical.
    """
    from .dsir import _words

    n_row = docs.select(F.count("*").alias("_N"))
    toks = docs.select(
        F.col("doc_id"), _words(F.col("text")).alias("_l")
    ).filter(F.size("_l") >= 2)
    half = (F.size("_l") / 2).cast("int")
    halves = toks.select(
        "doc_id",
        F.array_join(F.slice("_l", 1, half), " ").alias("anchor"),
        F.array_join(
            F.slice("_l", half + 1, F.size("_l") - half), " "
        ).alias("positive"),
    )
    neg_src = halves.select(
        F.col("doc_id").alias("neg_id"), F.col("anchor").alias("negative")
    )
    return (
        halves.crossJoin(F.broadcast(n_row))
        .select(
            "doc_id", "anchor", "positive",
            ((F.col("doc_id")
              + F.floor(F.col("_N") / 2).cast("bigint"))
             % F.col("_N").cast("bigint")).alias("neg_id"),
        )
        .join(neg_src, "neg_id")
        .select("doc_id", "anchor", "positive", "neg_id", "negative")
    )


def stitch_chunks(
    chunks: DataFrame,
    chunk: int = 32,
    stride: int = 24,
) -> DataFrame:
    """INVERSE of :func:`chunk_documents` — reassemble each document
    from its overlapping token-window chunks and VERIFY the overlaps:
    ``(doc_id, stitched_text, n_chunks, n_overlap_mismatches)``.
    Chunk ``i`` contributes its final ``stride`` tokens (its first
    ``chunk − stride`` tokens must equal the previous chunk's tail —
    each mismatch increments the integrity counter instead of
    silently corrupting the reassembly). The round-trip contract
    ``stitch(chunk(d)) ≡ d`` is what makes windowed pipelines
    (RAG stores, sliding-window scoring) auditable, and the mismatch
    counter is the corruption detector for chunk stores where a
    shard was rewritten by a different chunking config.

    Shape: one groupBy(doc) collect_list of (chunk_id, tokens) —
    group size = chunks-per-doc, bounded by document length, never
    corpus-scale — then a codegen aggregate fold over the sorted
    array doing both the concatenation and the overlap equality
    checks in one pass. No windows, no Python."""
    if stride <= 0 or chunk <= 0 or stride > chunk:
        raise ValueError("need 0 < stride <= chunk")
    overlap = chunk - stride
    toks = F.filter(F.split(F.col("chunk_text"), " "),
                    lambda w: F.length(w) > 0)
    grouped = (
        chunks.select(
            F.col("doc_id"),
            F.struct(
                F.col("chunk_id").alias("i"), toks.alias("t")
            ).alias("_c"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("_c")).alias("_cs"))
    )
    first = F.element_at(F.col("_cs"), 1)["t"]
    rest = F.slice(F.col("_cs"), 2, F.greatest(
        F.size("_cs") - 1, F.lit(0)))
    folded = F.aggregate(
        rest,
        F.struct(
            first.alias("acc"),
            F.lit(0).cast("int").alias("bad"),
        ),
        lambda st, c: F.struct(
            F.concat(
                st["acc"],
                F.slice(
                    c["t"],
                    F.least(F.lit(overlap + 1), F.size(c["t"]) + 1),
                    F.greatest(F.size(c["t"]) - overlap, F.lit(0)),
                ),
            ).alias("acc"),
            (
                st["bad"]
                + F.when(
                    F.slice(c["t"], 1,
                            F.least(F.lit(overlap), F.size(c["t"])))
                    == F.slice(
                        st["acc"],
                        F.greatest(
                            F.size(st["acc"])
                            - F.least(F.lit(overlap), F.size(c["t"]))
                            + 1,
                            F.lit(1),
                        ),
                        F.least(F.lit(overlap), F.size(c["t"])),
                    ),
                    0,
                ).otherwise(1)
            ).cast("int").alias("bad"),
        ),
    )
    return grouped.select(
        "doc_id",
        F.array_join(folded["acc"], " ").alias("stitched_text"),
        F.size("_cs").cast("int").alias("n_chunks"),
        folded["bad"].alias("n_overlap_mismatches"),
    )
