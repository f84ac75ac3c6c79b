"""Distributed BPE (byte-pair-encoding) vocabulary training.

The missing piece between token *counting* (llm/text.py) and a real
tokenizer: learn the merge table itself from the corpus.  Classic BPE
(Sennrich et al., arXiv:1508.07909): start from characters (plus an
end-of-word marker), repeatedly merge the most frequent adjacent symbol
pair, weighted by word frequency.

Spark-first shape — the key scale observation is that BPE trains on the
WORD-FREQUENCY table, not the corpus:
  - one corpus pass builds (word, freq): shuffle keyed on word, output
    is vocabulary-sized (millions of rows at 100 TB, not billions);
  - each merge step is ONE small aggregate (pair counts, partial-agg
    combine) + a global top-1 (tiny) + a map-side string replace — the
    only driver traffic is the single winning pair per step (the same
    O(1)-scalars-per-iteration contract as operators/gelly.pagerank).

Exactness: symbol sequences are stored as separator-framed strings
(``\\x1f sym \\x1f\\x1f sym ... \\x1f``).  A merge of pair (a, b) is then a
LITERAL substring replace of ``\\x1f a \\x1f\\x1f b \\x1f`` with
``\\x1f ab \\x1f`` — both Spark's ``replace`` and ANSI SQL ``replace``
scan greedily left-to-right without overlap, which IS the reference BPE
merge order, and the frame separators make partial-symbol matches
impossible (symbols never contain the separator: the corpus is reduced
to [a-z] words).  Every step is therefore bitwise-replayable by an
unrolled-CTE SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_flink_1_10_2_spark.operators.iterate import checkpoint_tracked, free_checkpoints

SEP = "\x1f"  # unit separator: frames every symbol
EOW = "</w>"  # end-of-word marker symbol (classic BPE)


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over lowercase [a-z] runs — the training table."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda w: w != ""
    )
    return (
        docs.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_seq() -> F.Column:
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    syms = F.concat(chars, F.array(F.lit(EOW)))
    return F.concat(F.lit(SEP), F.array_join(syms, SEP + SEP), F.lit(SEP))


def train_bpe(
    docs: DataFrame, text_col: str = "text", num_merges: int = 8
) -> DataFrame:
    """Learn ``num_merges`` BPE merges; returns the merge table
    ``(step, l_sym, r_sym, merged, pair_count)`` in merge order.

    Ties on pair count break lexicographically (l_sym, r_sym) so the
    table is deterministic on any engine.
    """
    spark = docs.sparkSession
    cur = word_frequencies(docs, text_col).select(
        "word", "freq", _initial_seq().alias("seq")
    )
    # flatten lineage once per step: the word table is vocabulary-sized,
    # so the checkpoint is small, and each step then reads ONE relation
    # instead of replaying the whole replace chain
    cur, cur_ids = checkpoint_tracked(cur, eager=False)
    prev_ids: set[int] = set()

    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for step in range(1, num_merges + 1):
            syms = F.split(
                F.expr("substring(seq, 2, length(seq) - 2)"), SEP + SEP
            )
            pair = F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.struct(
                        F.element_at(syms, i).alias("l_sym"),
                        F.element_at(syms, i + 1).alias("r_sym"),
                    ),
                )
            )
            # Round-12 note: a one-job-per-merge variant (JVM explode feeding
            # a mapInPandas partial-count kernel, driver merge/argmax —
            # 27 -> 15 jobs for 12 merges) was implemented and MEASURED
            # SLOWER: interleaved A/B medians 2.76 s (this shape) vs 4.47 s
            # (kernel shape) at sf0.1 — the Arrow transfer of the exploded
            # pair stream plus per-task pandas groupby costs far more than
            # the AQE query-stage round-trip it saves.  The JVM hash
            # aggregate below keeps the pair counting codegen'd; the shuffle
            # it plans is tiny (distinct symbol pairs).
            best = (
                cur.where(F.size(syms) > 1)
                .select("freq", pair.alias("p"))
                .groupBy("p.l_sym", "p.r_sym")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), "l_sym", "r_sym")
                .limit(1)
                .collect()
            )
            # the collect materialized `cur`, so the checkpoint it
            # superseded has no unmaterialized reader left
            free_checkpoints(spark, prev_ids)
            if not best:
                break
            b = best[0]
            merges.append((step, b["l_sym"], b["r_sym"], b["l_sym"] + b["r_sym"], int(b["cnt"])))
            pat = SEP + b["l_sym"] + SEP + SEP + b["r_sym"] + SEP
            rep = SEP + b["l_sym"] + b["r_sym"] + SEP
            prev_ids = cur_ids
            cur, cur_ids = checkpoint_tracked(
                cur.withColumn("seq", F.replace("seq", F.lit(pat), F.lit(rep))),
                eager=False,
            )
    finally:
        free_checkpoints(spark, prev_ids | cur_ids)

    return spark.createDataFrame(
        merges, "step int, l_sym string, r_sym string, merged string, pair_count bigint"
    )


def bpe_segment(
    df: DataFrame, word_col: str, merge_rules: list[tuple[str, str]]
) -> DataFrame:
    """Apply a learned merge table to segment words: adds ``pieces``
    (array<string>) — the tokenizer's encode step, map-only (a chain of
    literal replaces, whole-stage-codegen friendly).

    For TRAINED rule tables a single pass in rule order equals the
    iterative priority encode (a merge can only create pairs involving
    its own output symbol, which later rules alone can reference), so
    this is exact; capped at {max} rules because Catalyst analysis cost
    grows with chain depth — use :func:`bpe_segment_pandas` for
    production-sized vocabularies."""
    if len(merge_rules) > _SEGMENT_EXPR_MAX_RULES:
        raise ValueError(
            f"bpe_segment expression chain capped at {_SEGMENT_EXPR_MAX_RULES} "
            f"rules (got {len(merge_rules)}); use bpe_segment_pandas for "
            "production-sized merge tables"
        )
    seq = F.concat(
        F.lit(SEP),
        F.array_join(
            F.concat(
                F.filter(F.split(F.col(word_col), ""), lambda c: c != ""),
                F.array(F.lit(EOW)),
            ),
            SEP + SEP,
        ),
        F.lit(SEP),
    )
    for l_sym, r_sym in merge_rules:
        seq = F.replace(
            seq,
            F.lit(SEP + l_sym + SEP + SEP + r_sym + SEP),
            F.lit(SEP + l_sym + r_sym + SEP),
        )
    trimmed = seq.substr(F.lit(2), F.length(seq) - 2)
    return df.withColumn("pieces", F.split(trimmed, SEP + SEP))


_SEGMENT_EXPR_MAX_RULES = 256


def bpe_segment_pandas(
    df: DataFrame, word_col: str, merge_rules: list[tuple[str, str]]
) -> DataFrame:
    """Tokenizer encode for PRODUCTION-sized merge tables (a real vocab
    has ~32k merges — a 32k-deep replace-expression chain would blow up
    Catalyst analysis).  Arrow-batched kernel applying merges in
    priority order per word, exactly the reference encode algorithm;
    the rule table ships to executors in the closure (a few MB)."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merge_rules)}
    cols = df.columns
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)

    def encode(word: str) -> list[str]:
        syms = [*word, EOW]
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            # merge EVERY occurrence of the winning pair left-to-right
            # (the same greedy pass the literal replace performs)
            a, b = syms[best_i], syms[best_i + 1]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def kernel(batches):
        for b in batches:
            if not len(b):
                continue
            out = b.copy()
            out["pieces"] = [encode(w) for w in b[word_col]]
            yield out

    return df.mapInPandas(kernel, f"{schema}, pieces array<string>")
