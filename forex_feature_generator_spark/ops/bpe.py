"""Vocab-file-driven BPE tokenization — the real encoder behind
`n_bpe_tokens` (upgrades ops/text.py's regex ESTIMATE to actual byte-pair
encoding against a merge table).

Algorithm = standard BPE encode: start from characters, apply each merge
rule exhaustively in rank order. Because the merge table is VALID (every
operand is a base symbol or the output of a strictly earlier merge, and all
outputs are distinct — the shape every learned BPE vocab has), applying
rules sequentially by rank is exactly equivalent to the classic
lowest-rank-pair-first loop (tests/test_bpe.py proves this against an
independent classic-algorithm implementation).

TWO execution paths, gated on merge-table size (bpe_encode picks):

* <= CODEGEN_MAX_MERGES (256): the symbol stream is a delimited
  string (each symbol wrapped in its own commas, so one literal `replace`
  per merge is exhaustive and boundary-safe), the merge table is
  constant-folded into a chain of JVM `replace` expressions and ids come
  from a codegen'd CASE chain — no shuffle, no Python, whole-stage codegen.
  Per row the cost is O(len * n_merges) streaming string work, and the
  generated Java method count grows with the table, so this plan is only
  viable for SMALL tables (the frozen 28-rule demo vocab; janino's 64 KB
  method limit and O(len*n_merges) scans both blow up at a learned 10k-100k
  vocab — the round-3 review's flagged cliff).

* above the gate: a vectorized Arrow pandas UDF running the classic
  lowest-rank-pair-first loop per document with the rank table shipped ONCE
  per executor via SparkContext.broadcast — O(len * pairs_present) per doc
  independent of vocab size, no shuffle, embarrassingly 100 TB-parallel.
  This is the path a real 50k-merge learned vocab takes.

Both paths produce identical output (test_bpe.py runs a >=1k-merge synthetic
vocab through the UDF path against the pure-Python sequential encoder, and
the same texts through both paths at a table size where both are legal).
DuckDB-oracle-checkable on the codegen path: the identical replace chain
exists in SQL (__spark_entry__.q43).

Wrapped representation correctness (codegen path): symbols `s1 s2 s3` are
stored as ",s1,,s2,,s3," — every symbol carries BOTH flanking delimiters, so
replacing ",a,,b," with ",ab," (a) can never match across a symbol boundary
(the char before a symbol's leading "," is another ",", never a letter), and
(b) never consumes a neighbour's delimiter, so one left-to-right replace-all
per rule merges every occurrence (a merge output can't recreate its own
pair: that would need ab == a or ab == b)."""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalize_text

# Largest merge table the constant-folded replace-chain/CASE plan accepts:
# above this the chain's codegen size (janino 64 KB method limit) and the
# O(len * n_merges) per-row scans make the plan wrong — bpe_encode switches
# to the broadcast + pandas-UDF path automatically.
CODEGEN_MAX_MERGES = 256

# Frozen demo merge table (rank order) — the default when no vocab file is
# given; small enough for the codegen path. VALIDITY invariants, asserted in
# build_vocab and relied on for sequential==classic equivalence:
#   * every operand is a base symbol (a-z, 0-9, '_') or an EARLIER output
#   * all outputs are distinct
MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("o", "n"), ("r", "e"),
    ("e", "r"), ("an", "d"), ("o", "u"), ("in", "g"), ("s", "t"), ("a", "r"),
    ("o", "r"), ("e", "n"), ("o", "f"), ("i", "s"), ("a", "t"), ("i", "t"),
    ("t", "o"), ("the", "_"), ("and", "_"), ("of", "_"), ("is", "_"),
    ("in", "_"), ("to", "_"), ("at", "_"), ("er", "_"), ("s", "_"),
]

BASE_SYMBOLS = ["_"] + [chr(c) for c in range(ord("0"), ord("9") + 1)] \
    + [chr(c) for c in range(ord("a"), ord("z") + 1)]


def build_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """symbol -> id: base symbols first (ids 0..36), then one id per merge
    output in rank order. Asserts table validity (operands exist, outputs
    distinct) — the precondition for sequential==classic equivalence."""
    vocab: dict[str, int] = {s: i for i, s in enumerate(BASE_SYMBOLS)}
    for a, b in merges:
        assert a in vocab and b in vocab, (a, b)         # operands exist
        assert a + b not in vocab, (a, b)                # outputs distinct
        vocab[a + b] = len(vocab)
    return vocab


def load_merges(path: str) -> list[tuple[str, str]]:
    """Merge table from a vocab file: one 'left right' pair per line in rank
    order; blank lines and '#' comments skipped (the huggingface/GPT-2
    merges.txt shape). Validated via build_vocab at bpe_encode time."""
    merges: list[tuple[str, str]] = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            a, b = line.split()
            merges.append((a, b))
    return merges


VOCAB: dict[str, int] = build_vocab(MERGES)


def _norm(col):
    """normalize_text (lower, non-alnum runs -> single space, trim) with the
    word separator made an explicit '_' symbol — GPT-style: space-joined
    tokens are ordinary vocab entries, merges may cross word boundaries."""
    return F.replace(normalize_text(col), F.lit(" "), F.lit("_"))


def _norm_py(text: str) -> str:
    import re
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().replace(" ", "_")


def _encoded_string(col, merges: list[tuple[str, str]]):
    """The fully-merged delimited symbol stream for a text column
    (codegen path only — one JVM replace per merge rule)."""
    s = F.regexp_replace(_norm(col), "(.)", ",$1,")
    for a, b in merges:
        s = F.replace(s, F.lit(f",{a},,{b},"), F.lit(f",{a}{b},"))
    return s


def _sym_id(sym_col, vocab: dict[str, int]):
    """symbol -> vocab id as a codegen'd CASE chain (element_at on a map
    literal would throw under ANSI for a missing key; the chain yields NULL,
    which the encoder's closed alphabet makes unreachable)."""
    items = list(vocab.items())
    return reduce(lambda acc, kv: acc.when(sym_col == kv[0], kv[1]),
                  items[1:],
                  F.when(sym_col == items[0][0], items[0][1])).cast("int")


def _classic_encode(t: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Canonical BPE encode loop (the GPT-2 `bpe()` shape): repeatedly merge
    every occurrence of the lowest-rank adjacent pair until none remains.
    O(len * pairs_present) — independent of total vocab size, unlike the
    sequential-by-rank scan."""
    syms = list(t)
    while len(syms) > 1:
        best = None
        best_rank = None
        prev = syms[0]
        for cur in syms[1:]:
            r = ranks.get((prev, cur))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, (prev, cur)
            prev = cur
        if best is None:
            break
        a, b = best
        out: list[str] = []
        i = 0
        n = len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _bpe_encode_codegen(docs: DataFrame, text_col: str, id_col: str,
                        merges: list[tuple[str, str]],
                        vocab: dict[str, int],
                        keep_cols: tuple = ()) -> DataFrame:
    out = docs.withColumn("__s", _encoded_string(F.col(text_col), merges))
    syms = F.expr("split(substring(__s, 2, length(__s) - 2), ',,')")
    empty = F.length("__s") == 0
    n = F.when(empty, F.lit(0)).otherwise(F.size(syms)).cast("long")
    ids = (F.when(empty, F.array().cast("array<int>"))
           .otherwise(F.transform(syms, lambda c: _sym_id(c, vocab))))
    return out.select(id_col, *keep_cols, n.alias("n_bpe_tokens"),
                      ids.alias("token_ids"))


def _bpe_encode_udf(docs: DataFrame, text_col: str, id_col: str,
                    merges: list[tuple[str, str]],
                    vocab: dict[str, int],
                    keep_cols: tuple = ()) -> DataFrame:
    """Large-vocab path: Arrow-batched pandas UDF, rank/vocab tables shipped
    once per executor via broadcast (NOT captured per-task in the closure —
    a 50k-merge table re-pickled per task would dominate small tasks)."""
    from pyspark.sql.types import ArrayType, IntegerType

    sc = docs.sparkSession.sparkContext
    b_tables = sc.broadcast(
        ({pair: i for i, pair in enumerate(merges)}, dict(vocab)))

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(texts: pd.Series) -> pd.Series:
        ranks, voc = b_tables.value
        out = []
        for t in texts:
            t = _norm_py(t or "")
            out.append([voc[s] for s in _classic_encode(t, ranks)] if t
                       else [])
        return pd.Series(out)

    return (docs.select(id_col, *keep_cols,
                        encode(F.col(text_col)).alias("token_ids"))
            .select(id_col, *keep_cols,
                    F.size("token_ids").cast("long").alias("n_bpe_tokens"),
                    "token_ids"))


def bpe_encode(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               merges: list[tuple[str, str]] | None = None,
               keep_cols: tuple = ()) -> DataFrame:
    """(doc_id[, *keep_cols], n_bpe_tokens: long, token_ids: array<int>) —
    real BPE token count + ids per document.

    merges: rank-ordered merge table (e.g. load_merges(path)); defaults to
    the frozen demo table. Tables up to CODEGEN_MAX_MERGES run as the
    zero-Python constant-folded replace chain; larger tables switch to the
    broadcast + pandas-UDF classic encoder (identical output).

    keep_cols: extra input columns carried through the encode projection —
    both paths are per-row maps, so a caller that needs e.g. `source`
    alongside the tokens passes it here instead of re-joining the corpus
    on doc_id afterwards (that join was a full extra shuffle of both
    sides at 100 TB for a column the scan already had in hand)."""
    if merges is None:
        merges, vocab = MERGES, VOCAB
    else:
        vocab = build_vocab(merges)
    # NULL text behaves like '' on BOTH paths -> (0, []). Without this the
    # codegen path propagated NULL through the replace chain (size(NULL) =
    # -1 non-ANSI, NULL ids) while the UDF path mapped None -> '' -> (0, []),
    # so crossing the size gate silently changed NULL-row semantics.
    docs = docs.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    if len(merges) <= CODEGEN_MAX_MERGES:
        return _bpe_encode_codegen(docs, text_col, id_col, merges, vocab,
                                   keep_cols)
    return _bpe_encode_udf(docs, text_col, id_col, merges, vocab, keep_cols)


def encode_py(text: str,
              merges: list[tuple[str, str]] | None = None) -> list[str]:
    """Sequential-by-rank reference encoder (pure Python, mirrors the Spark
    replace chain symbol-for-symbol; tests/test_bpe.py checks BOTH against
    the independent classic lowest-rank-pair-first algorithm)."""
    syms = list(_norm_py(text))
    for a, b in (MERGES if merges is None else merges):
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _learn_py(word_counts: list[tuple[list[str], int]],
              n_merges: int) -> list[tuple[str, str]]:
    """Classic BPE learning loop (Sennrich et al. 2016) over a (symbols,
    count) word table: repeatedly merge the most frequent adjacent pair.
    Deterministic tiebreak: highest count, then lexicographically smallest
    pair. Outputs are guaranteed distinct (a merged pair's adjacency can
    never recur — see the module docstring's validity argument), so the
    result always passes build_vocab."""
    merges: list[tuple[str, str]] = []
    produced: set[str] = set()
    words = [(list(s), c) for s, c in word_counts]
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        # drop candidates whose surface form was already produced by a
        # different split (a+bc vs ab+c -> 'abc'): build_vocab requires
        # distinct outputs, and one spelling of a string is enough
        pairs = {p: c for p, c in pairs.items()
                 if p[0] + p[1] not in produced}
        if not pairs:
            break
        (a, b), _cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        produced.add(a + b)
        merges.append((a, b))
        nxt = []
        for syms, c in words:
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, c))
        words = nxt
    return merges


def learn_merges(docs: DataFrame, n_merges: int,
                 text_col: str = "text",
                 top_words: int = 100_000) -> list[tuple[str, str]]:
    """Learn a BPE merge table FROM the corpus — the producer for
    bpe_encode's consumer side. Distributed part: ONE corpus scan reduced
    to a (word, count) table (explode + partial-aggregated groupBy), then a
    distributed top-K by count (orderBy+limit = TakeOrdered, no global
    single-partition sort). The merge loop itself runs driver-side on that
    bounded table — the standard practical shape (Sennrich/SentencePiece
    learn on word frequencies, not the raw corpus): the word table is
    vocab-sized and `top_words` caps driver memory at web scale while
    covering ~all token mass (Zipf).

    Every word carries a trailing '_' marker (matching bpe_encode's
    space -> '_' normalization) so learned merges compose word-final
    units; merges therefore never cross word boundaries — the documented
    approximation vs the frozen demo table's cross-word rules. Returns a
    rank-ordered merge list valid for build_vocab / bpe_encode."""
    words = (docs.select(F.explode(F.split(normalize_text(F.col(text_col)),
                                           " ")).alias("w"))
             .filter(F.col("w") != ""))
    wc = (words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
          .orderBy(F.col("cnt").desc(), F.col("w").asc())
          .limit(top_words).collect())
    word_counts = [(list(r["w"]) + ["_"], int(r["cnt"])) for r in wc]
    return _learn_py(word_counts, n_merges)
