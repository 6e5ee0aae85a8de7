"""Distributed BPE merge learning (byte-pair encoding vocabulary
induction).

Sennrich, Haddow, Birch — "Neural Machine Translation of Rare Words
with Subword Units" (ACL 2016).  The classic tokenizer-training loop:
start from characters, repeatedly merge the most frequent adjacent
symbol pair.  Re-expressed Spark-first:

* the corpus collapses to a WORD-FREQUENCY table once (one groupBy —
  the standard BPE preprocessing; at 100 TB the distinct-word table is
  orders of magnitude smaller than the corpus and is the only state
  the loop touches);
* each merge round is: adjacent-pair explode weighted by word freq ->
  one aggregate -> a 1-ROW argmax frame, crossJoin-broadcast back into
  a row-local greedy merge fold.  No driver collect anywhere — the
  winning pair stays inside the plan, and the vocab frame is
  checkpointed per round to keep lineage flat (the same loop
  discipline as ml/optim's gradient descent and ml/graph's PageRank);
* the greedy left-to-right merge is an ``aggregate`` fold with
  (out, prev) struct state — merged symbols immediately become the new
  ``prev``, so chained merges behave exactly like the reference
  algorithm's single-pass scan.

Ties break lexicographically (ORDER BY count DESC, pair) so the merge
sequence is deterministic — the property that lets the differential
oracle unroll the identical rounds in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofast_spark.session import pin
from gofast_spark.text.analysis import normalize_text


def word_freq_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq): the corpus collapsed to distinct normalized words
    — the only input BPE training needs."""
    toks = df.select(
        F.explode(F.split(normalize_text(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    return toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


# sequence(1, 0) DESCENDS in Spark, so single-symbol words need the
# explicit empty-array guard.  r15: the symbol string is split ONCE per
# row via the one-element-array let-binding (the old expression
# re-split `sym` at every one of its five references — guide §1.2
# per-task work); identical pair strings.
_PAIRS = (
    "transform(array(split(sym, ' ')), "
    "tk -> IF(size(tk) < 2, array(), "
    "transform(sequence(1, size(tk) - 1), "
    "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))))[0]"
)

# greedy left-to-right merge of the winning pair (columns pa/pb) inside
# one fold; merged symbols become `prev` so they can chain further
_MERGE_FOLD = (
    "aggregate(split(sym, ' '), "
    "named_struct('out', cast('' as string), 'prev', cast('' as string)), "
    "(st, x) -> IF(st.prev = '', named_struct('out', st.out, 'prev', x), "
    "IF(st.prev = pa AND x = pb, "
    "named_struct('out', st.out, 'prev', concat(st.prev, x)), "
    "named_struct('out', IF(st.out = '', st.prev, "
    "concat(st.out, ' ', st.prev)), 'prev', x))), "
    "st -> IF(st.prev = '', st.out, "
    "IF(st.out = '', st.prev, concat(st.out, ' ', st.prev))))"
)


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    *,
    num_merges: int = 5,
) -> DataFrame:
    """(rank, pair, freq): the first ``num_merges`` BPE merges learned
    from the corpus, in order.  ``pair`` is the space-separated symbol
    pair merged at that rank; ``freq`` its weighted count at merge
    time.  Fully distributed — the argmax never leaves the plan."""
    vocab = word_freq_table(df, text_col).select(
        "word",
        "freq",
        # 'hello' -> 'h e l l o'
        F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")).alias("sym"),
    )
    vocab, _ = pin(vocab, "bpe:vocab")
    bests: list[DataFrame] = []
    for r in range(num_merges):
        pairs = (
            vocab.select(
                "freq", F.explode(F.expr(_PAIRS)).alias("pair")
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .select(
                F.lit(r + 1).alias("rank"),
                "pair",
                F.col("cnt").alias("freq"),
            )
        )
        bests.append(best)
        applied = (
            vocab.crossJoin(F.broadcast(best.select("pair")))
            .select(
                "word",
                "freq",
                F.expr("split(pair, ' ')[0]").alias("pa"),
                F.expr("split(pair, ' ')[1]").alias("pb"),
                "sym",
            )
            .select(
                "word", "freq", F.expr(_MERGE_FOLD).alias("sym")
            )
        )
        # pin each round: the next round's argmax would otherwise
        # replay every earlier round inside its own job
        vocab, _ = pin(applied, "bpe:round")
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out


def bpe_segment(
    df: DataFrame,
    text_col: str,
    merges: list[str],
    *,
    out_col: str = "segmented",
) -> DataFrame:
    """Apply an ordered merge list to normalized text: each word starts
    as characters and replays the merges — the inference half of BPE.
    ``merges`` is a (small, driver-side) list of 'a b' pairs, e.g. the
    collected output of :func:`bpe_learn_merges`; it is applied as a
    chain of row-local folds (no shuffle)."""
    out = df.select(
        "*", F.split(normalize_text(text_col), " ").alias("__w")
    ).withColumn(
        "__syms",
        F.expr("transform(__w, w -> trim(regexp_replace(w, '(.)', '$1 ')))"),
    ).drop("__w")
    import re as _re

    # Splice merge symbols via collision-proof placeholders: a learned
    # symbol may itself contain the substring 'pa'/'pb' (e.g. 'pb' from
    # 'cupboard'), so naive identifier replacement would corrupt the
    # just-inserted literal.  \b-bounded placeholders never appear in
    # the template or any normalized symbol; embedded quotes are
    # SQL-escaped.
    seg_tmpl = _re.sub(
        r"\bpb\b",
        "__PB__",
        _re.sub(r"\bpa\b", "__PA__", _MERGE_FOLD),
    ).replace("split(sym, ' ')", "split(s, ' ')")

    def _lit(v: str) -> str:
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    for m in merges:
        pa, pb = m.split(" ")
        fold = seg_tmpl.replace("__PA__", _lit(pa)).replace("__PB__", _lit(pb))
        out = out.withColumn(
            "__syms", F.expr(f"transform(__syms, s -> {fold})")
        )
    return out.select(
        *[c for c in df.columns],
        F.array_join(F.col("__syms"), " | ").alias(out_col),
    ).drop("__syms")
