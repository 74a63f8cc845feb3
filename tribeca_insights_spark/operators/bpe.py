"""BPE-style adjacent-pair counting — tokenizer training, step one.

Beyond-reference capability (task brief: LLM-data-pipeline operators).
Byte-pair-encoding tokenizer training repeats one primitive at corpus
scale: count adjacent symbol pairs weighted by word frequency, merge
the argmax.  This operator is that primitive as DataFrame algebra; the
merge loop itself is a driver-side iteration over a |V|-sized table
(vocabulary, not corpus), so the corpus is touched exactly once.

Scale shape (10^12 docs):

- the ONE corpus-sized operation is the word-frequency groupBy (same
  partial-agg shuffle as corpus TF, map-side combined — identical to
  operators/tf.py:61's proven shape);
- everything after operates on the DISTINCT-WORD table (|V| rows —
  millions, not trillions): position explode × pair substring ×
  weighted count is |V|·avg_len work, trivially parallel;
- top-k plans as TakeOrderedAndProject, never a global sort.

Pairs are adjacent CHARACTER bigrams within a word (no end-of-word
marker — documented simplification; adding one is a concat before the
explode and changes no plan shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bpe_pair_counts(docs: DataFrame, topk: int = 30) -> DataFrame:
    """(pair, pair_count, n_words): top-``topk`` adjacent character
    pairs across the corpus, weighted by word occurrence count.

    ``pair_count`` sums the word frequency over every position the
    pair occurs at (a pair appearing twice inside one word counts
    twice per occurrence — standard BPE accounting); ``n_words`` is
    the number of distinct vocabulary words containing the pair.
    Ties at the k boundary break on pair ascending.
    """
    toks = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
    # corpus-sized shuffle #1 and only: word frequencies (|V|-row output)
    vocab = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # |V|-sized from here on: explode positions, cut 2-char substrings
    pos = vocab.filter(F.length("word") > 1).select(
        "word",
        "freq",
        F.explode(
            F.sequence(F.lit(1), F.length("word") - 1)
        ).alias("i"),
    )
    pairs = pos.select(
        F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"),
        "word",
        "freq",
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("freq").alias("pair_count"),
        F.countDistinct("word").alias("n_words"),
    )
    return agg.orderBy(F.desc("pair_count"), F.asc("pair")).limit(topk)


# sentinel pair wrapping every symbol: literal replace of a pair pattern
# can then never match across a symbol boundary (the classic BPE regex
# uses lookarounds, which RE2-family engines don't support — delimiters
# give the same guarantee with plain literal replace, identically
# left-to-right non-overlapping in Spark, DuckDB and Python)
_SL = "\x1f"   # symbol start
_SR = "\x1e"   # symbol end


def bpe_train_merges(docs: DataFrame, n_merges: int = 3) -> DataFrame:
    """The full BPE training LOOP for the first ``n_merges`` merges:
    (step, left, right, pair_count) — the merge table a tokenizer
    trainer emits, learned greedily (argmax pair count, ties on
    (left, right) ascending) with each round's merge APPLIED to the
    vocabulary before the next round counts.

    Extends :func:`bpe_pair_counts` (the single-round primitive) to the
    real training recurrence. Plan shape per round — everything after
    the one corpus-sized word-frequency groupBy is |V|-sized:

    - adjacent pairs via an index-transform + explode over the split
      symbol list (|V|·avg_len rows);
    - the argmax is a TakeOrderedAndProject top-1, CROSS-JOINED BACK AS
      A BROADCAST 1-ROW TABLE — no driver action inside the loop, the
      whole n_merges recurrence is one lazy plan;
    - the merge itself is a literal ``F.replace`` on the
      sentinel-delimited symbol string (boundary-safe by construction,
      see module sentinels) — per-row codegen, no shuffle.

    Symbols are wrapped ⟨s⟩ = ``\\x1f s \\x1e``; input text containing
    the sentinel codepoints (U+001F/U+001E — absent from any sane
    corpus; the reference's tokenizer strips control chars anyway) is
    rejected defensively by a filter rather than silently corrupted.

    At real tokenizer scale (30k merges) the driver loop stays this
    shape with a localCheckpoint every ~50 rounds to truncate lineage;
    n_merges here is small enough that one lazy plan is both faster
    and oracle-replayable closed-form.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
    vocab = (
        docs.select(F.explode(toks).alias("word"))
        .filter(~F.col("word").contains(_SL) & ~F.col("word").contains(_SR))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    cur = vocab.select(
        F.regexp_replace("word", "(.)", f"{_SL}$1{_SR}").alias("sym"),
        "freq",
    )
    merges = []
    for step in range(1, n_merges + 1):
        syms = F.split(
            F.expr("substring(sym, 2, length(sym) - 2)"), _SR + _SL
        )
        pairs = cur.select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.struct(
                        F.element_at(syms, i).alias("left"),
                        F.element_at(syms, i + 1).alias("right"),
                    ),
                )
            ).alias("p"),
        ).filter(F.size(syms) > 1)
        best = (
            pairs.groupBy("p.left", "p.right")
            .agg(F.sum("freq").cast("bigint").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .limit(1)
        )
        merges.append(
            best.select(
                F.lit(step).cast("int").alias("step"),
                "left", "right", "pair_count",
            )
        )
        cur = cur.crossJoin(
            F.broadcast(
                best.select(
                    F.col("left").alias("_ml"), F.col("right").alias("_mr")
                )
            )
        ).select(
            F.replace(
                F.col("sym"),
                F.concat(F.lit(_SL), "_ml", F.lit(_SR + _SL), "_mr",
                         F.lit(_SR)),
                F.concat(F.lit(_SL), "_ml", "_mr", F.lit(_SR)),
            ).alias("sym"),
            "freq",
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def bpe_encode(docs: DataFrame, merges) -> DataFrame:
    """ENCODE every document with a fixed, ordered BPE merge list —
    tokenizer APPLICATION, the counterpart of :func:`bpe_train_merges`
    (train once, encode the corpus; this is the corpus-sized half).
    Output: input id column + ``symbols`` (the BPE token sequence,
    words independently encoded in document order) + ``n_bpe_tokens``
    — the "how many tokens is this corpus under my tokenizer" question
    every training-data budget starts with.

    Encoding is EXACT greedy BPE, yet pure whole-stage codegen — zero
    Python, zero shuffle: each word is sentinel-wrapped per symbol
    (module sentinels; literal replace can then never match across a
    symbol boundary) and the merge list is applied as a fold of
    ``F.replace`` calls, one left-to-right non-overlapping pass per
    merge in priority order. One pass per merge is the full fixpoint:
    merging (a,b)→ab consumes both symbols, so it can never create a
    NEW (a,b) adjacency, and — provided every merge output is a
    distinct new symbol, asserted below — a later merge can never
    recreate an earlier merge's pair (its output symbol did not exist
    when the earlier pair was defined). Spark, DuckDB and Python
    ``str.replace`` share the left-to-right non-overlapping contract,
    so the oracle replays the encoder exactly.

    Scale shape (10^12 docs): embarrassingly parallel — one Project
    above the scan, |merges| literal replaces deep. At 30k merges,
    fold in chunks through intermediate columns (same plan, bounded
    expression-tree depth); the corpus is still touched once with no
    exchange.
    """
    outs = ["".join(p) for p in merges]
    if len(set(outs)) != len(outs):
        raise ValueError("merge outputs must be distinct symbols")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)

    def enc(w):
        s = F.regexp_replace(w, "(.)", f"{_SL}$1{_SR}")
        for a, b in merges:
            s = F.replace(
                s,
                F.lit(f"{_SL}{a}{_SR}{_SL}{b}{_SR}"),
                F.lit(f"{_SL}{a}{b}{_SR}"),
            )
        return s

    symbols = F.flatten(
        F.transform(
            toks,
            lambda w: F.split(
                enc(w).substr(F.lit(2), F.length(enc(w)) - F.lit(2)),
                _SR + _SL,
            ),
        )
    )
    return docs.select(
        F.col("doc_id"),
        symbols.alias("symbols"),
        F.size(symbols).cast("int").alias("n_bpe_tokens"),
    )


def bpe_fertility(docs: DataFrame, merges) -> DataFrame:
    """Per-group tokenizer fertility report over :func:`bpe_encode`:
    (group, n_words, n_bpe_tokens, n_word_chars, fertility_micros,
    chars_per_token_micros) — tokens-per-word and chars-per-token, THE
    two numbers a tokenizer is judged by per language (high fertility
    on a language = its text costs more context window and more
    compute per word; the standard argument for vocabulary rebalancing
    — Rust et al. 2021).

    fertility = 1e6·Σtokens div Σwords; chars/token =
    1e6·Σword_chars div Σtokens — exact BIGINT after the codegen
    encode. Shape: the encode is bpe_encode's zero-shuffle Project;
    the id-keyed join decorates it with the group + word stats from
    the same scan; one group-sized rollup.
    """
    enc = bpe_encode(docs, merges)
    words = F.filter(
        F.split(F.col("text"), " "), lambda w: F.length(w) > 0
    )
    base = docs.select(
        F.col("doc_id"),
        F.col("lang").alias("_g"),
        F.size(words).cast("long").alias("_nw"),
        F.aggregate(
            words, F.lit(0).cast("long"),
            lambda acc, w: acc + F.length(w),
        ).alias("_nc"),
    )
    j = base.join(enc.select("doc_id", "n_bpe_tokens"), "doc_id")
    agg = j.groupBy("_g").agg(
        F.sum("_nw").cast("bigint").alias("n_words"),
        F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        F.sum("_nc").cast("bigint").alias("n_word_chars"),
    )
    return agg.select(
        F.col("_g").alias("lang"),
        "n_words", "n_bpe_tokens", "n_word_chars",
        F.expr("n_bpe_tokens * 1000000L div n_words")
        .alias("fertility_micros"),
        F.expr("n_word_chars * 1000000L div n_bpe_tokens")
        .alias("chars_per_token_micros"),
    )
