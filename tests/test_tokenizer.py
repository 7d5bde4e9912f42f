"""Tokenizer semantics: offsets/lengths in chars, dup counting, text_len."""

from tiny_search_engine_spark.tokenizer import text_len, tokenize, tokenize_with_stats


def test_code_tokens_offsets():
    toks = tokenize("def foo(x): return x+1", "code")
    terms = [t.term for t in toks]
    assert terms == ["def", "foo", "(", "x", ")", ":", "return", "x", "+", "1"]
    assert toks[0].offset == 0 and toks[0].length == 3
    assert toks[1].offset == 4 and toks[1].length == 3
    # text_len = last token offset+length (reference node_def.cpp:100-103)
    assert text_len(toks) == 22 == len("def foo(x): return x+1")


def test_dup_counting():
    toks, dups, tmap = tokenize_with_stats("a b a B a", "code")
    # dup is 1-based occurrence count; sign is case-folded → B counts as b
    assert dups == [1, 1, 2, 2, 3]
    from tiny_search_engine_spark.hashing import term_sign

    a, b = term_sign("a"), term_sign("b")
    assert tmap[a][0] == 3 and tmap[b][0] == 2
    assert tmap[a][1] == 0 and tmap[b][1] == 1  # first occurrence index
    assert tmap[a][2] == [0, 4, 8]  # char offsets


def test_ws_mode():
    toks = tokenize("hello  world\nfoo", "ws")
    assert [t.term for t in toks] == ["hello", "world", "foo"]


def test_unicode_offsets_are_chars():
    toks = tokenize("日本 word", "ws")
    assert toks[1].offset == 3  # chars, not bytes


def _iter_rows(mode, docs):
    """Run the fast-path doc_term iterator on a list of texts → list of row
    dicts (term display resolved per sign, null-skipped)."""
    import pandas as pd

    from tiny_search_engine_spark.tokenizer import make_doc_term_iterator

    fn = make_doc_term_iterator(mode)
    pdf = pd.DataFrame(
        {"doc_id": list(range(len(docs))), "content": docs}
    )
    out = pd.concat(list(fn(iter([pdf]))), ignore_index=True)
    return out


def test_doc_term_iterator_matches_reference_stats():
    """Vectorized fast-path reduction == per-token reference pass
    (tokenize_with_stats) on every field, incl. unicode edge cases the
    trailing-scan doc_len must get right (é is \\w but unmatchable by
    _CODE_RE; '٣' is \\d and matchable)."""
    from tiny_search_engine_spark.hashing import term_sign
    from tiny_search_engine_spark.tokenizer import text_len, tokenize, tokenize_with_stats

    docs = [
        "def foo(x): return x+1",
        "a b a B a",
        "x = 3.14 + v1.2.3",
        "tail unicode é",  # trailing unmatched \w char
        "digits ٣٤ end",  # unicode digits ARE matched by \d+
        "  ",  # token-less → dropped
        None,  # null → dropped
        "one",
        "trailing spaces   \t\n",
        "1.2.3.4 a5b 5ab _x 5_",
        "é",  # token-less (unmatchable) → dropped
    ]
    rows = _iter_rows("code", docs)
    by_doc = {}
    for r in rows.itertuples():
        by_doc.setdefault(r.doc_id, {})[r.term_sign] = r

    for i, text in enumerate(docs):
        if text is None:
            assert i not in by_doc
            continue
        toks, _dups, tmap = tokenize_with_stats(text, "code")
        if not toks:
            assert i not in by_doc
            continue
        got = by_doc[i]
        assert set(got) == set(tmap)
        dl = text_len(tokenize(text, "code"))
        for sign, (tf, first_idx, _offs, _pre) in tmap.items():
            g = got[sign]
            assert g.tf == tf, (text, sign)
            assert g.first_idx == first_idx, (text, sign)
            assert g.doc_len == dl, text
            assert g.n_terms == len(toks), text
            if g.term is not None:
                assert term_sign(g.term) == sign  # display matches its sign
        # each sign has exactly one non-null display across the batch
    n_disp = rows["term"].notna().sum()
    assert n_disp == rows["term_sign"].nunique()
    # term_len is the display's char length where present
    disp = rows[rows["term"].notna()]
    assert (disp["term_len"].astype(int) == disp["term"].str.len()).all()


def test_doc_term_iterator_fuzz_against_reference_pass():
    import numpy as np

    from tiny_search_engine_spark.tokenizer import text_len, tokenize, tokenize_with_stats

    rng = np.random.default_rng(11)
    alphabet = list("ab_059. \t\n(){};=+-é日٣A Z")
    docs = [
        "".join(rng.choice(alphabet, size=rng.integers(0, 40)))
        for _ in range(300)
    ]
    rows = _iter_rows("code", docs)
    by_doc = {}
    for r in rows.itertuples():
        by_doc.setdefault(r.doc_id, {})[r.term_sign] = (
            r.tf, r.first_idx, r.doc_len, r.n_terms
        )
    for i, text in enumerate(docs):
        toks, _d, tmap = tokenize_with_stats(text, "code")
        if not toks:
            assert i not in by_doc, repr(text)
            continue
        dl = text_len(tokenize(text, "code"))
        want = {s: (tf, fi, dl, len(toks)) for s, (tf, fi, _o, _p) in tmap.items()}
        assert by_doc[i] == want, repr(text)


def test_pre_term_sign_adjacency():
    """The optional B2 adjacency slot: pre_term_sign = sign of the token
    before the term's FIRST occurrence, 0 if doc-initial (the reference's
    GlobalTermInfo, segment.cpp:84-99) — in both the reference pass and
    the vectorized doc_term fast path."""
    import pandas as pd

    from tiny_search_engine_spark.hashing import term_sign
    from tiny_search_engine_spark.tokenizer import (
        make_doc_term_iterator,
        tokenize_with_stats,
    )

    docs = ["a b a c", "x", "b B a b"]
    _toks, _dups, tmap = tokenize_with_stats(docs[0], "code")
    a, b, c = term_sign("a"), term_sign("b"), term_sign("c")
    assert tmap[a][3] == 0        # doc-initial
    assert tmap[b][3] == a        # 'b' first occurs after 'a'
    assert tmap[c][3] == a        # 'c' first occurs after the 2nd 'a'

    fn = make_doc_term_iterator("code", with_pre_sign=True)
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "content": docs})
    out = pd.concat(list(fn(iter([pdf]))), ignore_index=True)
    assert "pre_term_sign" in out.columns
    got = {
        (r.doc_id, r.term_sign): r.pre_term_sign for r in out.itertuples()
    }
    for i, text in enumerate(docs):
        _t, _d, tm = tokenize_with_stats(text, "code")
        for s, ent in tm.items():
            assert got[(i, s)] == ent[3], (i, s)
    # case-folding: doc 2 'b B' -> B is a dup of b, not a new first occ
    assert got[(2, a)] == b
