"""Deterministic, self-contained tokenizers shared verbatim by the Spark
engine and the pure-Python golden model.

The reference tokenizes with cppjieba MIX mode
(/root/reference/src/segment.cpp:60-76,103-126) whose main dictionaries are
missing blobs in this checkout (/root/reference/.MISSING_LARGE_BLOBS), so
exact jieba output is unreproducible; the tokenizer is therefore pluggable
and rank-identity is defined at pipeline level with the SAME tokenizer on
both sides (SURVEY.md §2 B1).

Two tokenizers:

- ``code``: for source code — identifiers, numbers, single
  operator/punctuation chars. Matches how a code search engine would
  index; emits (term, char_offset, char_length) like the reference's
  TermNode (offset/length in unicode chars, node_def.h:25-46).
- ``ws``: whitespace splitting — used by the DuckDB-oracle queries in
  __spark_entry__.py because it is expressible in ANSI SQL on both engines.

Signs are case-folded (reference: segment.cpp:68); display text is not.
"""

from __future__ import annotations

import re
from typing import Iterator, NamedTuple

import pandas as pd
import pyarrow  # noqa: F401  (documents the Arrow dependency of the UDF path)

from .hashing import term_sign


class Token(NamedTuple):
    term: str
    offset: int  # unicode char offset
    length: int  # unicode char length


_CODE_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|\d+(?:\.\d+)?|[^\w\s]")
_WS_RE = re.compile(r"\S+")


class Tokenizer:
    """Plugin surface (SURVEY §2 B1): subclass, implement ``tokens``, then
    ``register_tokenizer("name", instance)`` — every consumer (build fast
    path, positional token table, query analysis, the pure-Python golden
    model) resolves tokenizers through the registry, so a third tokenizer
    needs NO edits anywhere else. Instances must be picklable (they are
    shipped to executors inside mapInPandas closures) and deterministic.
    """

    def tokens(self, text: str) -> list[Token]:
        raise NotImplementedError

    def words_and_end(self, text: str) -> tuple[list[str], int]:
        """(token strings, last-token end char index) in ONE pass — the
        fused build path needs exactly these two; override when a faster
        computation than full tokenize exists (see RegexTokenizer)."""
        toks = self.tokens(text)
        if not toks:
            return [], 0
        return [t.term for t in toks], toks[-1].offset + toks[-1].length


class RegexTokenizer(Tokenizer):
    """One token per regex match. ``last_end`` optionally supplies an
    O(trailing-run) last-token-end scan so words_and_end avoids finditer."""

    def __init__(self, pattern: re.Pattern, last_end=None):
        self.pat = pattern
        self._last_end = last_end

    def tokens(self, text: str) -> list[Token]:
        return [
            Token(m.group(0), m.start(), m.end() - m.start())
            for m in self.pat.finditer(text)
        ]

    def words_and_end(self, text: str) -> tuple[list[str], int]:
        if self._last_end is None:
            return super().words_and_end(text)
        return self.pat.findall(text), self._last_end(text)


class DictTokenizer(Tokenizer):
    """Dictionary longest-match (jieba MP mode's greedy cousin): at each
    position take the longest case-folded wordlist entry; unmatched
    non-space chars come through as single-char tokens (jieba's OOV
    behavior). This is what /root/reference/src/segment.cpp:60-76 does via
    cppjieba modulo the missing dict blobs — registering it proves the B1
    pluggable-tokenizer seam with a genuinely non-regex third mode."""

    def __init__(self, words):
        ws = {w.lower() for w in words if w}
        if not ws:
            raise ValueError("DictTokenizer needs a non-empty wordlist")
        self.wordset = frozenset(ws)
        self.maxlen = max(map(len, ws))
        prefixes = set()
        for w in ws:
            for i in range(1, len(w)):
                prefixes.add(w[:i])
        self.prefixes = frozenset(prefixes)

    def tokens(self, text: str) -> list[Token]:
        out: list[Token] = []
        low = text.lower()
        i, n = 0, len(text)
        while i < n:
            if text[i].isspace():
                i += 1
                continue
            best = 0
            limit = min(n, i + self.maxlen)
            j = i + 1
            while j <= limit:
                seg = low[i:j]
                if seg in self.wordset:
                    best = j - i
                if seg not in self.prefixes:
                    break  # no dictionary word extends this segment
                j += 1
            length = best or 1
            out.append(Token(text[i : i + length], i, length))
            i += length
        return out


class DictAllTokenizer(DictTokenizer):
    """Dictionary cut-ALL mode (jieba CutAll, the reference's
    ``SegmentMode::ALL``, /root/reference/src/segment.h:27-33): at every
    position emit EVERY dictionary word starting there — overlapping
    tokens allowed, offsets/lengths preserved — and a single-char OOV
    token for positions no dictionary word covers. Recall-oriented
    indexing mode: a doc containing "foobar" is findable under "foo",
    "bar", and "foobar" if all three are dictionary words."""

    def tokens(self, text: str) -> list[Token]:
        out: list[Token] = []
        low = text.lower()
        n = len(text)
        covered_until = 0
        for i in range(n):
            if text[i].isspace():
                continue
            limit = min(n, i + self.maxlen)
            found = False
            j = i + 1
            while j <= limit:
                seg = low[i:j]
                if seg in self.wordset:
                    out.append(Token(text[i:j], i, j - i))
                    found = True
                    if j > covered_until:
                        covered_until = j
                if seg not in self.prefixes:
                    break
                j += 1
            if not found and i >= covered_until:
                out.append(Token(text[i], i, 1))
                covered_until = i + 1
        return out


class DictSearchTokenizer(DictTokenizer):
    """Dictionary search/MIX mode (jieba cut_for_search, the reference's
    ``SegmentMode::SEARCH``): longest-match segmentation first, then for
    every multi-char segment additionally emit its in-dictionary 2- and
    3-char sub-words (jieba's exact enrichment rule) before the segment
    itself — the query-side twin of cut-ALL indexing."""

    def tokens(self, text: str) -> list[Token]:
        low = text.lower()
        out: list[Token] = []
        for t in super().tokens(text):
            for k in (2, 3):
                if t.length > k:  # strictly longer: jieba's gate, and it
                    # keeps the whole word from re-emitting as its own k-gram
                    for s in range(t.length - k + 1):
                        if low[t.offset + s : t.offset + s + k] in self.wordset:
                            out.append(
                                Token(text[t.offset + s : t.offset + s + k], t.offset + s, k)
                            )
            out.append(t)
        return out


def register_tokenizer(name: str, tok: Tokenizer) -> None:
    """Register a tokenizer under ``name`` for this Python session. Build
    stores record the NAME in their meta/lineage; a session that queries a
    store built with a custom tokenizer must register the same name first."""
    if not isinstance(tok, Tokenizer):
        raise TypeError(f"expected a Tokenizer instance, got {type(tok).__name__}")
    _REGISTRY[name] = tok


def get_tokenizer(name: str) -> Tokenizer:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(
            f"unknown tokenizer {name!r}; built-ins: code, ws — register "
            f"custom modes with register_tokenizer(name, tok)"
        ) from None


def tokenize(text: str, mode: str = "code") -> list[Token]:
    """Pure function: text → [(term, offset, length)]. Deterministic."""
    return get_tokenizer(mode).tokens(text)


def tokenize_with_stats(text: str, mode: str = "code"):
    """Tokens + the reference's per-string pass (segment.cpp:78-101):

    returns (tokens, dup list (1-based occurrence counts, aligned with
    tokens), term_map {sign: [term_freq, first_idx, offsets,
    pre_term_sign]}). ``pre_term_sign`` is the sign of the token
    preceding the term's FIRST occurrence, 0 for a document-initial term
    — the adjacency slot the reference fills in GlobalTermInfo
    (segment.cpp:84-99) and never consumes (SURVEY §2 B2 "keep
    optional"). Signs are signed-int64 xxhash64(lower(term)).
    """
    toks = tokenize(text, mode)
    dup: list[int] = []
    term_map: dict[int, list] = {}  # sign -> [tf, first_idx, offsets, pre_sign]
    pre_sign = 0
    for i, t in enumerate(toks):
        s = term_sign(t.term)
        ent = term_map.get(s)
        if ent is None:
            term_map[s] = [1, i, [t.offset], pre_sign]
            dup.append(1)
        else:
            ent[0] += 1
            ent[2].append(t.offset)
            dup.append(ent[0])
        pre_sign = s
    return toks, dup, term_map


def text_len(toks: list[Token]) -> int:
    """The reference's doc/query length: last token offset+length in chars
    (node_def.cpp:100-103, table.cpp:646-648) — NOT len(text)."""
    if not toks:
        return 0
    last = toks[-1]
    return last.offset + last.length


# ---------------------------------------------------------------------------
# Spark side: Arrow-vectorized tokenize for mapInPandas.
# ---------------------------------------------------------------------------

TOKENS_SCHEMA = (
    "doc_id long, pos int, term string, offset int, length int, dup int"
)


def make_tokenize_iterator(mode: str, id_col: str = "doc_id", text_col: str = "content"):
    """Returns an ``iterator[pd.DataFrame] -> iterator[pd.DataFrame]``
    function for ``df.mapInPandas(fn, TOKENS_SCHEMA)``.

    One output row per token occurrence. ``dup`` is the 1-based occurrence
    count of the term within the doc so far (reference segment.cpp:89-99);
    term signs are added JVM-side afterwards via F.xxhash64(F.lower(term))
    so the Python stage stays string-only.
    """
    tok = get_tokenizer(mode)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            poss: list[int] = []
            terms: list[str] = []
            offs: list[int] = []
            lens: list[int] = []
            dups: list[int] = []
            for did, text in zip(pdf[id_col].to_numpy(), pdf[text_col].to_numpy()):
                if text is None:
                    continue
                seen: dict[str, int] = {}
                pos = 0
                for t in tok.tokens(text):
                    w = t.term
                    lw = w.lower()
                    c = seen.get(lw, 0) + 1
                    seen[lw] = c
                    ids.append(did)
                    poss.append(pos)
                    terms.append(w)
                    offs.append(t.offset)
                    lens.append(t.length)
                    dups.append(c)
                    pos += 1
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "pos": pd.Series(poss, dtype="int32"),
                    "term": pd.Series(terms, dtype="object"),
                    "offset": pd.Series(offs, dtype="int32"),
                    "length": pd.Series(lens, dtype="int32"),
                    "dup": pd.Series(dups, dtype="int32"),
                }
            )

    return fn


DOC_TERM_SCHEMA = (
    "doc_id long, term_sign long, term string, term_len int, "
    "tf int, first_idx int, doc_len int, n_terms int"
)

# the optional adjacency column (SURVEY §2 B2): sign of the token
# preceding the term's first occurrence, 0 if document-initial — the
# reference's GlobalTermInfo.pre_term_sign (segment.cpp:84-99),
# computed-but-unused there; opt in with BuildConfig.write_pre_term_sign
DOC_TERM_SCHEMA_PRE = DOC_TERM_SCHEMA + ", pre_term_sign long"

# single-char class tests used by the trailing-scan doc_len below; regexes
# (not str methods) so the classes are EXACTLY Python re's \s/\w/\d
_S_CH = re.compile(r"\s")
_W_CH = re.compile(r"\w")
_D_CH = re.compile(r"\d")


def _last_token_end_code(text: str) -> int:
    """End (unicode-char index) of the LAST _CODE_RE match, without running
    the tokenizer: every char is either part of some token or "unmatched"
    (whitespace, or a \\w char that is neither an ASCII identifier char nor
    a \\d digit — e.g. é — which no alternative of _CODE_RE can consume),
    so the last match end is len(text) minus the trailing unmatched run."""
    i = len(text)
    while i:
        c = text[i - 1]
        if "a" <= c <= "z" or "A" <= c <= "Z" or "0" <= c <= "9" or c == "_":
            break
        if _S_CH.fullmatch(c) or (_W_CH.fullmatch(c) and not _D_CH.fullmatch(c)):
            i -= 1
            continue
        break  # [^\w\s] — always a (punct) token char
    return i


def _last_token_end_ws(text: str) -> int:
    i = len(text)
    while i and _S_CH.fullmatch(text[i - 1]):
        i -= 1
    return i


_REGISTRY: dict[str, "Tokenizer"] = {}
_REGISTRY["code"] = RegexTokenizer(_CODE_RE, _last_token_end_code)
_REGISTRY["ws"] = RegexTokenizer(_WS_RE, _last_token_end_ws)


def make_doc_term_iterator(
    mode: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    with_pre_sign: bool = False,
):
    """Map-side per-doc aggregation (the reference's ``update_global_info``
    pass, segment.cpp:78-101, fused into tokenization): emits one row per
    (doc, DISTINCT case-folded term) with tf/first_idx plus the doc-level
    doc_len and n_terms replicated on each row.

    This is the fast-path tokenize stage: it removes the token-level
    shuffle entirely (the per-(doc,term) reduction happens in Python where
    the tokens already live) — at 100 TB that is the difference between
    shuffling ~10^13 occurrence rows and ~0.4x as many pre-reduced rows.
    The positional token table (needed only by the exact feature-parity
    path) is written separately when BuildConfig.write_tokens is set.

    The per-batch reduction is columnar, not a Python dict loop: C-level
    ``findall`` → one object array → ``pd.factorize`` (display, then
    case-folded) → ``np.unique`` over packed (doc, term-code) int64 keys
    (stable, so return_index IS the first occurrence → first_idx).
    ``term_sign`` is computed here (bit-exact xxhash64, tests/test_hashing)
    on the few thousand batch-unique terms instead of JVM-hashing millions
    of post-explosion rows, and the display string is shipped on ONE
    representative row per batch-unique term (null elsewhere) — the
    dominant Arrow/parquet string column collapses to ~1% of rows.
    Consumers aggregate it with ``first(term, ignorenulls=True)``."""
    tok = get_tokenizer(mode)

    empty = {
        id_col: pd.Series([], dtype="int64"),
        "term_sign": pd.Series([], dtype="int64"),
        "term": pd.Series([], dtype="object"),
        "term_len": pd.array([], dtype="Int32"),
        "tf": pd.Series([], dtype="int32"),
        "first_idx": pd.Series([], dtype="int32"),
        "doc_len": pd.Series([], dtype="int32"),
        "n_terms": pd.Series([], dtype="int32"),
    }
    if with_pre_sign:
        empty["pre_term_sign"] = pd.Series([], dtype="int64")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from itertools import chain

        import numpy as np

        for pdf in batches:
            words_lists: list[list[str]] = []
            dlens: list[int] = []
            keep_ids: list[int] = []
            for did, text in zip(pdf[id_col].to_numpy(), pdf[text_col].to_numpy()):
                if text is None:
                    continue
                ws, dlen = tok.words_and_end(text)
                if not ws:  # token-less docs rejected (table.cpp:270)
                    continue
                words_lists.append(ws)
                dlens.append(dlen)
                keep_ids.append(did)
            if not words_lists:
                yield pd.DataFrame(empty)
                continue
            counts = np.fromiter(
                map(len, words_lists), dtype=np.int64, count=len(words_lists)
            )
            total = int(counts.sum())
            words = np.empty(total, dtype=object)
            words[:] = list(chain.from_iterable(words_lists))
            doc_ord = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
            doc_start = np.concatenate(([0], np.cumsum(counts)[:-1]))
            disp_codes, disp_uniq = pd.factorize(words)
            low_uniq = np.empty(len(disp_uniq), dtype=object)
            low_uniq[:] = [w.lower() for w in disp_uniq]
            low_of_disp, low_uniq2 = pd.factorize(low_uniq)
            lcodes = low_of_disp[disp_codes]  # per-token case-folded code
            signs = np.fromiter(
                (term_sign(w) for w in low_uniq2),
                dtype=np.int64,
                count=len(low_uniq2),
            )
            pair = doc_ord * np.int64(len(low_uniq2)) + lcodes
            # stable (mergesort) unique → return_index = FIRST occurrence
            _, first_g, tf = np.unique(pair, return_index=True, return_counts=True)
            d_idx = doc_ord[first_g]
            l_idx = lcodes[first_g]
            n_pairs = len(first_g)
            # one representative row per batch-unique term carries the
            # display string (+ its unicode length); the rest are null
            rep = np.unique(l_idx, return_index=True)[1]
            terms_out = np.full(n_pairs, None, dtype=object)
            rep_words = words[first_g[rep]]
            terms_out[rep] = rep_words
            tl_vals = np.zeros(n_pairs, dtype=np.int32)
            tl_vals[rep] = np.fromiter(
                map(len, rep_words), dtype=np.int32, count=len(rep)
            )
            tl_mask = np.ones(n_pairs, dtype=bool)
            tl_mask[rep] = False
            cols = {
                id_col: pd.Series(
                    np.asarray(keep_ids, dtype=np.int64)[d_idx], dtype="int64"
                ),
                "term_sign": pd.Series(signs[l_idx], dtype="int64"),
                "term": pd.Series(terms_out, dtype="object"),
                "term_len": pd.arrays.IntegerArray(tl_vals, mask=tl_mask),
                "tf": pd.Series(tf.astype(np.int32), dtype="int32"),
                "first_idx": pd.Series(
                    (first_g - doc_start[d_idx]).astype(np.int32), dtype="int32"
                ),
                "doc_len": pd.Series(
                    np.asarray(dlens, dtype=np.int32)[d_idx], dtype="int32"
                ),
                "n_terms": pd.Series(counts[d_idx].astype(np.int32), dtype="int32"),
            }
            if with_pre_sign:
                # sign of the token before the FIRST occurrence, 0 when the
                # first occurrence opens the doc (segment.cpp:84 init)
                prev_tok = np.maximum(first_g - 1, 0)
                cols["pre_term_sign"] = pd.Series(
                    np.where(
                        first_g > doc_start[d_idx],
                        signs[lcodes[prev_tok]],
                        np.int64(0),
                    ),
                    dtype="int64",
                )
            yield pd.DataFrame(cols)

    return fn
