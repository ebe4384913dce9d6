"""BPE encoder correctness: the Spark chained-replace encoder must equal the
CLASSIC byte-pair-encoding algorithm (repeatedly merge the lowest-rank
adjacent pair — the GPT-2 `bpe()` loop), implemented here independently.
Equivalence holds because the merge table is valid (operands precede
outputs, outputs distinct) — the property every learned vocab has."""

import re

import pytest

from forex_feature_generator_spark.ops import bpe as B


def classic_bpe(text: str) -> list[str]:
    """Independent reference: the canonical encode loop — find the
    lowest-rank pair present anywhere, merge all its occurrences
    left-to-right, repeat until no ranked pair remains."""
    ranks = {pair: i for i, pair in enumerate(B.MERGES)}
    t = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().replace(" ", "_")
    syms = list(t)
    while True:
        pairs = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
        ranked = [p for p in pairs if p in ranks]
        if not ranked:
            return syms
        a, b = min(ranked, key=lambda p: ranks[p])
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out


TEXTS = [
    "the cat sat on the mat",
    "this is the thing that matters most of all",
    "aaa and and the theology of another",            # overlapping merges
    "To be, or not to be: that is the question!",     # punctuation + case
    "inginging thethethe",                            # repeated merge chains
    "x",                                              # single char
    "ratatat attitude at the outer rim",              # at/it/ou chains
    "123 mixed w1th d1g1ts and s0urces",
    "...",                                            # normalizes to empty
    "stop the merger of south east standings",
]


@pytest.mark.parametrize("text", TEXTS)
def test_sequential_equals_classic(text):
    """The sequential-by-rank encoder (what the Spark replace chain
    implements) IS classic BPE on a valid merge table."""
    assert B.encode_py(text) == classic_bpe(text)


def test_vocab_closed():
    """Every symbol the encoder can emit has a vocab id (closed alphabet:
    normalization restricts input to [a-z0-9_])."""
    for t in TEXTS:
        for s in B.encode_py(t):
            assert s in B.VOCAB, s


def test_spark_matches_classic(spark):
    """End-to-end: the JVM chained-replace encoder vs classic, ids and
    counts, including the empty-after-normalization doc."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string")
    got = {r["doc_id"]: r for r in B.bpe_encode(docs).collect()}
    for i, t in enumerate(TEXTS):
        syms = classic_bpe(t)
        exp_ids = [B.VOCAB[s] for s in syms]
        assert got[i]["n_bpe_tokens"] == len(syms), t
        assert got[i]["token_ids"] == exp_ids, t


def test_token_counts_vocab_mode(spark):
    """ops.text.token_counts(bpe='vocab') reports the real BPE count."""
    from forex_feature_generator_spark.ops import text as TXT
    docs = spark.createDataFrame([(0, TEXTS[0])], "doc_id int, text string")
    row = TXT.token_counts(docs, bpe="vocab").collect()[0]
    assert row["n_bpe_tokens"] == len(classic_bpe(TEXTS[0]))


def test_merge_table_valid():
    """The sequential==classic equivalence precondition, asserted directly:
    operands are base symbols or earlier outputs; outputs distinct."""
    known = set(B.BASE_SYMBOLS)
    for a, b in B.MERGES:
        assert a in known and b in known, (a, b)
        assert a + b not in known, (a, b)
        known.add(a + b)


# ---------------------------------------------------------------------------
# Large-vocab path (broadcast + pandas-UDF classic encoder) — the plan a real
# learned 10k-100k-merge vocab takes; the codegen replace chain is gated at
# CODEGEN_MAX_MERGES.
# ---------------------------------------------------------------------------

def synth_merges(n: int) -> list[tuple[str, str]]:
    """Deterministic valid merge table of size n: level-1 letter pairs, then
    level-2 (pair, letter) merges — operands always exist, outputs distinct
    (asserted for real by build_vocab)."""
    letters = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    merges: list[tuple[str, str]] = []
    known = set(B.BASE_SYMBOLS)
    for a in letters:
        for b in letters:
            if len(merges) >= n:
                return merges
            if a + b not in known:
                merges.append((a, b))
                known.add(a + b)
    for a, b in list(merges):
        for c in letters:
            if len(merges) >= n:
                return merges
            if a + b + c not in known:
                merges.append((a + b, c))
                known.add(a + b + c)
    return merges


def test_large_vocab_udf_path(spark):
    """>=1k-merge synthetic vocab through the pandas-UDF path: ids and
    counts equal the pure-Python sequential encoder on the same table."""
    merges = synth_merges(1200)
    assert len(merges) >= 1000
    vocab = B.build_vocab(merges)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string")
    got = {r["doc_id"]: r
           for r in B.bpe_encode(docs, merges=merges).collect()}
    for i, t in enumerate(TEXTS):
        syms = B.encode_py(t, merges)
        assert got[i]["token_ids"] == [vocab[s] for s in syms], t
        assert got[i]["n_bpe_tokens"] == len(syms), t


def test_codegen_and_udf_paths_agree(spark, monkeypatch):
    """The SAME mid-size table pushed through both paths (gate forced each
    way) produces identical rows."""
    merges = synth_merges(120)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string")
    monkeypatch.setattr(B, "CODEGEN_MAX_MERGES", 1000)
    a = {r["doc_id"]: (r["n_bpe_tokens"], r["token_ids"]) for r in
         B.bpe_encode(docs, merges=merges).collect()}
    monkeypatch.setattr(B, "CODEGEN_MAX_MERGES", 1)
    b = {r["doc_id"]: (r["n_bpe_tokens"], r["token_ids"]) for r in
         B.bpe_encode(docs, merges=merges).collect()}
    assert a == b


def test_load_merges(tmp_path):
    """Vocab-file round trip: 'left right' per line, comments/blanks
    skipped, rank order preserved."""
    p = tmp_path / "merges.txt"
    p.write_text("# bpe merges v1\nt h\nth e\n\ni n\n")
    assert B.load_merges(str(p)) == [("t", "h"), ("th", "e"), ("i", "n")]


def test_frozen_default_unchanged(spark):
    """bpe_encode with no merges argument still runs the frozen table on the
    codegen path (q43's plan: pure Project, no Python)."""
    docs = spark.createDataFrame([(0, TEXTS[0])], "doc_id int, text string")
    df = B.bpe_encode(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    row = df.collect()[0]
    assert row["n_bpe_tokens"] == len(classic_bpe(TEXTS[0]))


# ---------------------------------------------------------------------------
# BPE LEARNING (ops/bpe.py::learn_merges) — corpus -> merge table
# ---------------------------------------------------------------------------

def test_learn_py_hand_computed():
    """First merges on a hand-countable word table. Corpus words (with the
    trailing '_' marker): low*5, lower*2, newest*6, widest*3."""
    wc = [(list("low") + ["_"], 5), (list("lower") + ["_"], 2),
          (list("newest") + ["_"], 6), (list("widest") + ["_"], 3)]
    merges = B._learn_py(wc, 4)
    # pair counts round 1: (e,s)=9, (s,t)=9, (t,_)=9, (l,o)=7, (o,w)=7, ...
    # tiebreak lexicographic -> ('e','s') first, then ('es','t')=9,
    # ('t','_') drops to ... ('est','_')=9
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("est", "_")
    B.build_vocab(merges)            # validity invariant holds


def test_learn_merges_spark_and_roundtrip(spark):
    """Distributed word counting feeds the same learner: learned table is
    valid, matches the pure-python learner on the same corpus, and the
    learn -> encode round trip produces fewer tokens than characters."""
    texts = ["the cat and the hat", "the cat sat", "a hat and a cat",
             "the the the cat"] * 3
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    merges = B.learn_merges(docs, n_merges=12, top_words=100)
    assert len(merges) == 12
    vocab = B.build_vocab(merges)

    # reference: count words in pure python, same learner
    from collections import Counter
    wc = Counter()
    for t in texts:
        for w in B._norm_py(t).split("_"):
            if w:
                wc[w] += 1
    ref = B._learn_py([(list(w) + ["_"], c) for w, c in
                       sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))],
                      12)
    assert merges == ref

    # round trip: encode with the learned table through BOTH paths
    enc = {r["doc_id"]: r for r in
           B.bpe_encode(docs, merges=merges).collect()}
    for i, t in enumerate(texts):
        syms = B.encode_py(t, merges)
        assert enc[i]["token_ids"] == [vocab[s] for s in syms]
        assert enc[i]["n_bpe_tokens"] < len(B._norm_py(t))  # compression
