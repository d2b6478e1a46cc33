"""Byte-pair-encoding subword tokenizer, trained in-engine (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword Units").

Scale shape — the standard two-level design every production BPE trainer
uses, mapped onto Spark:

* TRAINING never iterates over the corpus. One distributed pass builds the
  word-frequency table (explode → groupBy → top ``max_words`` by count);
  the iterative merge learning then runs driver-side on that bounded table
  (≤ max_words rows — a bounded collect). At 100 TB the corpus pass is the
  only big job; the Zipf head the cap keeps carries almost all pair mass.
* ENCODING is a broadcast join against the precomputed segmentation of the
  trained words (covers the frequency head), with an Arrow-batched pandas
  UDF applying the merge list only to OOV tail words — Python touches the
  miss rate, not the corpus. No shuffle until the per-doc stitch
  (groupBy(doc), one exchange carrying (doc, pos, pieces)).

Training is inherently iterative (each merge depends on the last), so the
driver query is rows-only by design — parity is pinned by the paper's
worked example and reconstruction invariants instead of a SQL oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd  # module scope: pandas_udf type hints must resolve
# against module globals under `from __future__ import annotations`

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xmlschemavalidator_spark.persistence import load_meta, load_part, save_model
from xmlschemavalidator_spark.textops import tokens

EOW = "▁"  # end-of-word sentinel appended to every word's symbol list


def _merge_pair(syms: list[str], a: str, b: str) -> list[str]:
    """Apply ONE merge to a symbol sequence, left-to-right greedy (eeee +
    (e,e) → ee ee). The single implementation of merge semantics — shared
    by training, encoding, and the OOV UDF (review finding: two hand
    copies risked desynchronizing trainer and encoder)."""
    if len(syms) < 2:
        return syms
    out = []
    i = 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def apply_merges(word: str, merges: list[tuple[str, str]], eow: str = EOW) -> list[str]:
    """Reference merge application (driver/UDF side): start from
    characters + eow, apply each learned merge in training order wherever
    its pair is adjacent. O(len(merges) × len(word)) — used for OOV tail
    words and in tests; the frequency head goes through the precomputed
    segmentation join instead."""
    syms = list(word) + [eow]
    for a, b in merges:
        syms = _merge_pair(syms, a, b)
    return syms


def _learn_merges(
    word_counts: list[tuple[str, int]], n_merges: int, min_frequency: int
) -> list[tuple[str, str]]:
    """Driver-side merge learning on the bounded word-count table,
    INCREMENTAL: pair counts are built once, then each merge re-derives
    counts only for the words that actually contain the merged pair (the
    standard fast BPE trainer) — O(total_symbols + Σ touched), not
    O(n_merges × total_symbols) (review finding: the naive rebuild was a
    driver-CPU blowup at the max_words ceiling). Ties on pair count break
    to the lexicographically smallest pair — fully deterministic, so
    training is reproducible across runs and cluster layouts."""
    segs: list[list[str]] = [list(w) + [EOW] for w, _ in word_counts]
    counts: list[int] = [c for _, c in word_counts]
    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}

    def account(j: int, sign: int) -> None:
        syms, c = segs[j], counts[j]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + sign * c
            if sign > 0:
                where.setdefault(p, set()).add(j)

    for j in range(len(segs)):
        account(j, +1)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        live = [(p, c) for p, c in pair_counts.items() if c > 0]
        if not live:
            break
        best_pair, best_count = min(live, key=lambda kv: (-kv[1], kv[0]))
        if best_count < min_frequency:
            break
        merges.append(best_pair)
        a, b = best_pair
        # `where` entries can be stale (a word may have lost the pair to an
        # earlier merge) — account(-1)/+1 keeps counts exact either way,
        # and _merge_pair is a no-op on non-containing words
        for j in sorted(where.pop(best_pair, ())):
            account(j, -1)
            segs[j] = _merge_pair(segs[j], a, b)
            account(j, +1)
        pair_counts.pop(best_pair, None)
    return merges


@dataclass
class BPEModel:
    """merges: learned pairs in training order; seg: (word, pieces
    array<string>) for every trained word — the broadcast fast path."""

    merges: list[tuple[str, str]]
    seg: DataFrame
    max_words: int
    min_frequency: int
    byte_fallback: bool = False

    def save(self, path: str) -> None:
        save_model(
            path,
            {
                "merges": self.merges,
                "max_words": self.max_words,
                "min_frequency": self.min_frequency,
                "byte_fallback": self.byte_fallback,
            },
            {"seg": self.seg},
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "BPEModel":
        meta = load_meta(spark, path)
        return cls(
            merges=[tuple(m) for m in meta["merges"]],
            seg=load_part(spark, path, "seg"),
            max_words=meta["max_words"],
            min_frequency=meta["min_frequency"],
            byte_fallback=bool(meta.get("byte_fallback", False)),
        )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    max_words: int = 50_000,
    min_frequency: int = 2,
    byte_fallback: bool = False,
) -> BPEModel:
    """One corpus pass for word counts, then driver-side merge learning.
    The vocabulary is capped to the ``max_words`` most frequent words
    (ties → lexicographically smallest — deterministic); the cap bounds
    the driver collect AND the broadcast segmentation table. Words are
    lower-cased whitespace tokens (the engine's shared tokenizer)."""
    if max_words > 1 << 21:
        raise ValueError(
            f"max_words={max_words}: the word-count table is driver-collected; "
            "keep max_words <= 2**21"
        )
    spark = df.sparkSession
    counts = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("word").asc())
        .limit(max_words)
        .collect()
    )
    word_counts = [(r["word"], int(r["c"])) for r in counts]
    merges = _learn_merges(word_counts, n_merges, min_frequency)
    seg_rows = [
        (w, apply_merges(w, merges)) for w, _ in word_counts
    ]
    seg = spark.createDataFrame(seg_rows, "word string, pieces array<string>")
    return BPEModel(
        merges=merges, seg=seg, max_words=max_words,
        min_frequency=min_frequency, byte_fallback=byte_fallback,
    )


def bpe_encode(
    df: DataFrame,
    model: BPEModel,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Tokenize each document with the trained model: ``(doc, pieces
    array<string>, n_pieces)``. Trained words resolve through the
    broadcast segmentation join; OOV words fall to an Arrow-batched pandas
    UDF applying the merge list (identical semantics — apply_merges is the
    single implementation both paths share). Feature-less docs yield an
    empty pieces array.

    Plan: explode with position → broadcast left join (≤ max_words rows)
    → OOV-only UDF → ONE shuffle on doc for the ordered stitch."""
    from pyspark.sql.functions import pandas_udf

    merges = model.merges

    @pandas_udf("array<string>")
    def _oov_pieces(words: pd.Series) -> pd.Series:
        # cache within the batch: Zipf tails still repeat across docs
        memo: dict[str, list[str]] = {}

        def seg(w):
            # null-safe: ArrowEvalPython computes the UDF for EVERY row
            # before the when() projection picks a branch — nulls (docs
            # with no tokens) and joined words reach here too
            if w is None:
                return []
            if w not in memo:
                memo[w] = apply_merges(w, merges)
            return memo[w]

        return words.map(seg)

    return encode_with_segmentation(df, model.seg, _oov_pieces, id_col, text_col)


def encode_with_segmentation(
    df: DataFrame,
    seg: DataFrame,
    oov_pieces_udf,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Shared subword-encode plumbing for any segmentation-table model
    (BPE here, unigram LM in unigram.py — ONE implementation of the
    explode → broadcast join → OOV-union → ordered-stitch dataflow, so
    the two tokenizers cannot drift): trained words resolve through the
    broadcast `seg` (word, pieces) join; misses go to the Arrow-batched
    `oov_pieces_udf`, which must be null-safe (nulls reach it — see the
    union note below)."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode_outer(tokens(F.lower(F.col(text_col)))).alias("pos", "word"),
    )
    joined = toks.join(F.broadcast(seg), "word", "left")
    # two-branch union, NOT a when(): ArrowEvalPython computes a pandas
    # UDF for every row BEFORE the projection picks a branch, so a
    # conditional would run Python on the hits too. The union re-reads the
    # narrow explode+broadcast-join per branch (no shuffle, cheap) and
    # keeps Python strictly on the miss rate.
    empty = F.array().cast("array<string>")
    hits = joined.where(
        F.col("pieces").isNotNull() | F.col("word").isNull()
    ).select("doc", "pos", F.coalesce("pieces", empty).alias("pieces"))
    misses = joined.where(
        F.col("pieces").isNull() & F.col("word").isNotNull()
    ).select("doc", "pos", oov_pieces_udf(F.col("word")).alias("pieces"))
    resolved = hits.unionByName(misses)
    stitched = (
        resolved.groupBy("doc")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "pieces"))
                    ),
                    lambda s: s["pieces"],
                )
            ).alias("pieces")
        )
    )
    return stitched.select(
        "doc", "pieces", F.size("pieces").alias("n_pieces")
    )


def bpe_vocab(model: BPEModel) -> DataFrame:
    """The token vocabulary the trained model can emit: the segmentation
    table's pieces, the RESULT of every learned merge (an OOV word can
    surface an intermediate piece that no trained word's final
    segmentation retains — e.g. merges [(a,b),(ab,c)] hide 'ab' inside
    'abc', but OOV 'abd' emits it; review finding), the single characters
    of every trained word, and eow — ``(piece, piece_id)`` with ids
    assigned by sorted piece (deterministic, engine-independent). Bounded:
    ≤ max_words segmentations + n_merges + alphabet."""
    from pyspark.sql import Window

    spark = model.seg.sparkSession
    from_seg = model.seg.select(F.explode("pieces").alias("piece"))
    chars = model.seg.select(
        F.explode(F.split(F.col("word"), "")).alias("piece")
    ).where(F.length("piece") > 0)
    extras = [(a + b,) for a, b in model.merges] + [(EOW,)]
    merged = spark.createDataFrame(extras, "piece string")
    pieces = from_seg.union(chars).union(merged).distinct()
    # global-window id assignment is fine HERE: the vocab is a bounded
    # model artifact (same contract as the collected word table), not
    # corpus-sized data
    w = Window.orderBy("piece")
    offset = 256 if model.byte_fallback else 0
    learned = pieces.select(
        "piece",
        (F.row_number().over(w) - 1 + offset).cast("int").alias("piece_id"),
    )
    if not model.byte_fallback:
        return learned
    # byte-fallback alphabet (GPT-2 family): ids 0..255 are RESERVED for
    # the raw UTF-8 bytes, spelled "<0xNN>". bpe_encode_ids computes byte
    # ids ARITHMETICALLY (the byte value), never by joining these rows —
    # a trained word could literally be the string "<0x41>", and that
    # text piece keeps its own learned id in the 256+ space.
    byte_rows = spark.createDataFrame(
        [(f"<0x{i:02X}>", i) for i in range(256)], "piece string, piece_id int"
    )
    return byte_rows.unionByName(learned)


def bpe_encode_ids(
    df: DataFrame,
    model: BPEModel,
    id_col: str,
    text_col: str = "text",
    oov_id: int = -1,
) -> DataFrame:
    """The training artifact form: ``(doc, ids array<int>, n_pieces)`` —
    :func:`bpe_encode` pieces mapped through the broadcast
    :func:`bpe_vocab` table in order. Pieces outside the vocab (only
    possible for OOV words containing characters absent from every
    trained word) map to ``oov_id`` — unless the model was trained with
    ``byte_fallback=True``, in which case such pieces decompose to their
    raw UTF-8 bytes in the reserved 0..255 id space and the output is
    UNK-free BY CONSTRUCTION (r3 VERDICT item 5; zero-UNK invariant
    pinned on planted exotic codepoints)."""
    enc = bpe_encode(df, model, id_col, text_col)
    vocab = bpe_vocab(model)
    if model.byte_fallback:
        # join only the learned space; byte ids are the byte values
        vocab = vocab.where(F.col("piece_id") >= 256)
    exploded = enc.select("doc", F.posexplode_outer("pieces").alias("ppos", "piece"))
    joined = exploded.join(F.broadcast(vocab), "piece", "left")
    if model.byte_fallback:
        bin_ = F.encode(F.col("piece"), "UTF-8")
        byte_ids = F.transform(
            F.sequence(F.lit(1), F.length(bin_)),
            lambda i: F.conv(F.hex(bin_.substr(i, F.lit(1))), 16, 10).cast("int"),
        )
        ids_arr = (
            F.when(F.col("piece").isNull(), F.lit(None).cast("array<int>"))
            .when(F.col("piece_id").isNotNull(), F.array(F.col("piece_id")))
            .otherwise(byte_ids)
        )
    else:
        ids_arr = F.when(F.col("piece").isNull(), F.lit(None).cast("array<int>")).otherwise(
            F.array(F.coalesce("piece_id", F.lit(oov_id)))
        )
    joined = joined.select("doc", "ppos", ids_arr.alias("pids"))
    return (
        joined.groupBy("doc")
        .agg(
            F.flatten(
                F.filter(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("ppos", "pids"))),
                        lambda s: s["pids"],
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("ids")
        )
        .select("doc", "ids", F.size("ids").alias("n_pieces"))
    )
