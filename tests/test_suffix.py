import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from dedup_spark.functions.suffix import containment_pairs, suffix_array

texts = st.text(alphabet="ab c", min_size=0, max_size=60)


@given(st.binary(min_size=1, max_size=200))
@settings(max_examples=150, deadline=None)
def test_suffix_array_matches_bruteforce(data):
    sa = suffix_array(data)
    exp = sorted(range(len(data)), key=lambda i: data[i:])
    assert sa.tolist() == exp


@given(st.lists(texts, min_size=2, max_size=8))
@settings(max_examples=100, deadline=None)
def test_containment_matches_bruteforce(docs):
    ids = [f"d{i:02d}" for i in range(len(docs))]
    got = containment_pairs(ids, docs, min_len=3)
    exp = set()
    for i in range(len(docs)):
        for j in range(len(docs)):
            if i != j and len(docs[i]) >= 3 and docs[i] in docs[j]:
                a, b = sorted((ids[i], ids[j]))
                exp.add((a, b))
    assert got == exp


@given(st.lists(texts, min_size=2, max_size=8))
@settings(max_examples=150, deadline=None)
def test_memmem_kernel_matches_suffix_array_kernel(docs):
    """The C-memmem group kernel (operators.containment._contained_pairs_find,
    the production UDF path since r5) must emit exactly the suffix-array
    reference kernel's pairs on arbitrary doc sets."""
    from dedup_spark.operators.containment import _contained_pairs_find

    ids = [f"d{i:02d}" for i in range(len(docs))]
    assert _contained_pairs_find(ids, docs, 3) == containment_pairs(
        ids, docs, min_len=3
    )


def test_memmem_kernel_multibyte_and_dup_texts():
    """Char-length gate + identical texts + multibyte chars through the
    memmem kernel (same fixtures as the suffix-array kernel's gate tests)."""
    from dedup_spark.operators.containment import _contained_pairs_find

    contained = "café " * 6  # 30 chars, 36 UTF-8 bytes
    holder = "xx " + contained + " yy"
    assert _contained_pairs_find(["a", "b"], [contained, holder], 32) == set()
    c2 = contained + "!!"
    assert _contained_pairs_find(["a", "b"], [c2, "xx " + c2 + " yy"], 32) == {
        ("a", "b")
    }
    # identical texts contain each other: one unordered pair
    t = "twelve chars! twelve chars! twelve!"
    assert _contained_pairs_find(["b", "a"], [t, t], 12) == {("a", "b")}


def test_containment_min_len_gate():
    got = containment_pairs(["a", "b"], ["short", "short and longer"], min_len=12)
    assert got == set()
    got = containment_pairs(
        ["a", "b"], ["twelve chars!", "xx twelve chars! yy"], min_len=12
    )
    assert got == {("a", "b")}


def test_containment_min_len_counts_characters_not_bytes():
    """The length gate uses CHARACTER count (SQL length() semantics, matching
    the DuckDB oracle twin), not UTF-8 byte count (ADVICE r3): a multibyte
    caption under min_len chars must not sneak through on byte length."""
    # 30 chars but 36 bytes in UTF-8 (six 2-byte é) — under min_len=32 chars
    contained = "café " * 6  # "café " x6 = 30 chars
    holder = "xx " + contained + " yy"
    got = containment_pairs(["a", "b"], [contained, holder], min_len=32)
    assert got == set()  # 30 chars < 32 even though 36 bytes >= 32
    # at 32+ chars the same multibyte text pairs up
    contained2 = contained + "!!"  # 32 chars
    holder2 = "xx " + contained2 + " yy"
    got2 = containment_pairs(["a", "b"], [contained2, holder2], min_len=32)
    assert got2 == {("a", "b")}


def test_suffix_array_empty():
    assert suffix_array(b"").tolist() == []
    assert len(suffix_array(bytes(np.zeros(5, dtype=np.uint8)))) == 5


def test_batch_winnowed_matches_per_doc_reference():
    """The batch-vectorized winnowing kernel (one pass over concatenated
    captions) must equal the per-doc reference exactly, anchors included."""
    import numpy as np
    from dedup_spark.operators.containment import (
        _batch_winnowed, _gram_hashes_one, _winnowed,
    )
    from dedup_spark.functions.hashing import to_signed64

    rng = np.random.default_rng(13)
    q, w = 24, 9
    vocab = ["the", "a", "photo", "of", "cat", "dog", "run", "x", "zebra"]
    texts = []
    for i in range(200):
        n = int(rng.integers(0, 30))
        texts.append(" ".join(rng.choice(vocab, size=n).tolist()).encode())
    texts += [b"", b"short", b"x" * (q + w - 2), b"y" * (q + w - 1)]

    d_idx, grams, anchors = _batch_winnowed(texts, q, w)
    got: dict[int, set] = {}
    got_anchor: dict[int, int] = {}
    for d, g, a in zip(d_idx, grams, anchors):
        got.setdefault(int(d), set()).add(int(g))
        if a:
            assert int(d) not in got_anchor
            got_anchor[int(d)] = int(g)

    for i, t in enumerate(texts):
        ref = _winnowed(_gram_hashes_one(t, q), w)
        if not len(ref):
            assert i not in got
            continue
        assert got[i] == set(int(x) for x in to_signed64(ref))
        # anchor = signed value of the UNSIGNED-min gram hash
        h = _gram_hashes_one(t, q)
        assert got_anchor[i] == int(to_signed64(h.min(keepdims=True))[0])


def test_anchor_join_broadcast_gate_same_pairs(spark, monkeypatch):
    """The anchor-key join must produce identical containment pairs whether
    the key side is broadcast (doc count under BROADCAST_MAX_DOCS) or falls
    through to the plain shuffled semi-join (VERDICT r2 #2): the gate
    changes the physical plan, never the output."""
    from dedup_spark.operators import containment
    from dedup_spark.operators.textdedup import text_signatures

    base = "solid stretch of twenty alpha beta gamma delta tokens " * 3
    rows = [
        (f"d{i:02d}", base + f"tail {i}") for i in range(6)
    ] + [
        ("p00", base.strip()),          # contained in every d*
        ("x00", "unrelated short"),
        ("x01", "another unrelated caption entirely different"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    sigs = text_signatures(docs, "doc_id", "text").localCheckpoint()

    def pairs():
        df, _ = containment.containment_stage(sigs)
        return {(r.a, r.b) for r in df.collect()}

    hinted = pairs()  # docs << 20M -> broadcast branch
    monkeypatch.setattr(containment, "BROADCAST_MAX_DOCS", 0)
    shuffled = pairs()
    assert hinted == shuffled
    assert {("d00", "p00"), ("d05", "p00")} <= hinted
