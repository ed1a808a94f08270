"""Text-analysis operators for large-scale training-data pipelines:
tokenization stats, quality scoring, language ID, fingerprinting.

All pure column expressions (JVM codegen, no UDFs) so they run at scan
speed over 100 TB of documents: one projection, no shuffle. Hashes are
md5-prefix based so the DuckDB oracle can reproduce them bit-for-bit
(Spark's xxhash64/murmur aren't portable across engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deterministic argmax tiebreak order for language ID
LANG_PRIORITY = ("en", "de", "es", "fr", "zh")
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ein", "ist"),
    "es": ("el", "los", "de", "y", "es"),
    "fr": ("le", "la", "et", "un", "est"),
    "zh": ("de", "shi", "le", "zai", "you"),
}
# Whitespace is pinned to an EXPLICIT ASCII class, never `\s`: Java
# regex `\s` is `[ \t\n\x0B\f\r]`, RE2 (DuckDB) `\s` is `[ \t\n\f\r]`
# (no \x0B), and Python `re` `\s` is unicode-aware — three different
# sets. One literal class means the Spark expressions, the DuckDB
# oracles, and the mapInPandas kernel tokenize identically on any
# input. (Pair with space-only strip: Spark/DuckDB trim() strip only
# ' ', so kernels use .strip(' ') — never Python's unicode .strip().)
WS_CHARS = r" \t\n\r\f\x0b"  # escape sequences, interpreted by each regex engine
WS_CLASS = "[" + WS_CHARS + "]"
BPE_ISH_PATTERN = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty text -> empty array."""
    t = F.trim(text)
    return F.when(
        t.isNull() | (t == ""), F.array().cast("array<string>")
    ).otherwise(F.split(t, WS_CLASS + "+"))


# Oracle-side (DuckDB) split of a ``text`` column on WS_CLASS runs; an
# empty or NULL text is left to the caller's CASE.
TOKENS_SQL = f"string_split_regex(trim(text), '{WS_CLASS}+')"


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish segment count: letter runs + digit runs + single
    punctuation marks (a cheap proxy for subword token budgets).

    NULL text counts as 0 (coalesce to '') in BOTH engines: Spark's
    non-ANSI ``size(NULL)`` is -1 while DuckDB's ``len(NULL)`` is
    NULL — without the pin the two diverge on null rows."""
    return F.size(
        F.regexp_extract_all(
            F.coalesce(text, F.lit("")), F.lit(BPE_ISH_PATTERN), 0
        )
    )


def marker_count(text: Column, word: str) -> Column:
    """Occurrences of a word (word-boundary regex); NULL text -> 0
    (same size(NULL)=-1 vs len(NULL)=NULL pin as above)."""
    return F.size(
        F.regexp_extract_all(
            F.coalesce(text, F.lit("")), F.lit(rf"\b{word}\b"), 0
        )
    )


def lang_marker_counts(text: Column) -> dict[str, Column]:
    out: dict[str, Column] = {}
    for lang in LANG_PRIORITY:
        acc: Column = F.lit(0)
        for w in LANG_MARKERS[lang]:
            acc = acc + marker_count(text, w)
        out[lang] = acc
    return out


def predicted_lang(counts: dict[str, Column]) -> Column:
    """Deterministic argmax over marker counts (priority-order ties)."""
    expr = F.lit(LANG_PRIORITY[-1])
    for lang in reversed(LANG_PRIORITY[:-1]):
        later = [counts[other] for other in LANG_PRIORITY if other != lang]
        cond = counts[lang] >= F.greatest(*later) if len(later) > 1 else counts[lang] >= later[0]
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, f"[A-Za-z0-9{WS_CHARS}]", ""))


def md5_long(col: Column, hex_chars: int = 8) -> Column:
    """Portable hash: first ``hex_chars`` of md5 as a non-negative
    long (DuckDB twin: CAST('0x' || substr(md5(x),1,n) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def sql_md5_long(expr: str, hex_chars: int = 8) -> str:
    """The DuckDB-side twin of :func:`md5_long`."""
    return f"CAST('0x' || substr(md5({expr}), 1, {hex_chars}) AS BIGINT)"


def normalized_text(text: Column) -> Column:
    """lowercase + collapse whitespace — the exact-dedup key basis."""
    return F.lower(F.regexp_replace(F.trim(text), WS_CLASS + "+", " "))


# The DuckDB-side twin of normalized_text() over a ``text`` column.
NORMALIZED_SQL = f"lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g'))"


def content_hash(text: Column) -> Column:
    """Full-document fingerprint over normalized text (15 hex chars =
    60 bits, portable)."""
    return md5_long(normalized_text(text), 15)


def shingles(toks: Column, n: int = 3) -> Column:
    """Token n-grams as strings. ``greatest(...,1)`` keeps the index
    sequence non-empty for short docs (Spark's sequence(1,0) would
    yield a DESCENDING [1,0]); callers guard on size >= n."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def min_shingle_hash(text: Column, n: int = 3) -> Column:
    """Winnowing-style fingerprint: min md5-hash over token n-grams
    (the k=1 MinHash); short docs fall back to the full-text hash."""
    toks = tokens(text)
    grams = shingles(toks, n)
    return F.when(
        F.size(toks) >= n,
        F.array_min(F.transform(grams, lambda s: md5_long(s))),
    ).otherwise(content_hash(text))


RABIN_B = 257
RABIN_M = 2147483647  # 2^31-1: acc*257+c stays < 2^40, no overflow
RABIN_K = 16  # rolling window chars


def char_codes(norm: Column) -> Column:
    """Per-character codepoints of (ASCII) normalized text."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm), F.lit(1))),
        lambda i: F.ascii(norm.substr(i, F.lit(1))),
    )


def _rabin_fold(codes: Column) -> Column:
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * RABIN_B + c) % RABIN_M,
    )


def rabin_hash(norm: Column) -> Column:
    """Polynomial (Rabin-Karp) hash of the whole normalized text;
    empty -> 0. DuckDB twin: list_reduce with the same fold (identical
    because 0*B + c1 == c1)."""
    return F.when(F.length(norm) == 0, F.lit(0).cast("long")).otherwise(
        _rabin_fold(char_codes(norm))
    )


def min_rolling_hash(norm: Column, k: int = RABIN_K) -> Column:
    """Winnowing fingerprint: min polynomial hash over all k-char
    windows (THE rolling-hash dedup primitive); docs shorter than k
    fall back to the full-text hash."""
    codes = char_codes(norm)
    win = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
        lambda i: _rabin_fold(F.slice(codes, i, k)),
    )
    return F.when(F.length(norm) >= k, F.array_min(win)).otherwise(rabin_hash(norm))


def rolling_hash_stats(docs):
    """Rolling-hash fingerprints as an Arrow-batched mapInPandas
    kernel. The expression forms above (rabin_hash/min_rolling_hash)
    are O(n*k) interpreted per-window work — measured ~250 s for 5000
    docs; this kernel uses the prefix-hash identity
    ``window(i,k) = (H[i+k] - H[i]*B^k) mod M`` for O(n) per doc and
    runs in ~1 s. The classic case where a custom kernel beats
    higher-order expressions.
    """
    import re as _re

    import pandas as pd

    bk = pow(RABIN_B, RABIN_K, RABIN_M)

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # space-only strip + pinned ASCII class: bit-compatible
                # with normalized_text() (Java) and the DuckDB oracle
                t = _re.sub(WS_CLASS + "+", " ", (text or "").strip(" ")).lower()
                n = len(t)
                pre = [0]
                for ch in t:
                    pre.append((pre[-1] * RABIN_B + ord(ch)) % RABIN_M)
                full = pre[-1]
                if n >= RABIN_K:
                    minw = min(
                        (pre[i + RABIN_K] - pre[i] * bk) % RABIN_M
                        for i in range(n - RABIN_K + 1)
                    )
                else:
                    minw = full
                rows.append((int(doc_id), full, minw, n))
            yield pd.DataFrame(
                rows, columns=["doc_id", "rabin_full", "min_window_hash", "norm_len"]
            )

    return docs.select("doc_id", "text").mapInPandas(
        kernel,
        "doc_id bigint, rabin_full bigint, min_window_hash bigint, norm_len int",
    )


WIN_K = 32  # fingerprint k-gram chars
WIN_W = 8  # winnowing selection window (fingerprint density ~2/(w+1))
RABIN_B2 = 263  # second polynomial base: join on (h1, h2) makes a
#                 cross-doc false collision ~2^-62 — no verify join needed


def winnowed_fingerprints(docs):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm) — the primitive behind EXACT-SUBSTRING dedup
    of training corpora: any two documents sharing an identical
    normalized substring of >= WIN_K + WIN_W - 1 chars are GUARANTEED
    to select at least one common fingerprint, while only ~2/(W+1) of
    window hashes are kept (the winnowing density bound).

    Per doc (O(n) via the prefix-hash identity, same as
    rolling_hash_stats): hash every WIN_K-char window under TWO
    polynomial bases; slide a WIN_W-window over the h1 sequence and
    select the LEFTMOST-minimum position of each; emit the distinct
    (h1, h2) pairs at selected positions. Docs whose normalized text
    is shorter than WIN_K + WIN_W - 1 emit nothing (below the
    guarantee length). Map-only — fingerprint rows are ~n/4 per doc,
    and the downstream pair join is an equi-join on (h1, h2), never
    an all-pairs scan.
    """
    import re as _re

    import pandas as pd

    bk1 = pow(RABIN_B, WIN_K, RABIN_M)
    bk2 = pow(RABIN_B2, WIN_K, RABIN_M)

    def kernel(batches):
        for pdf in batches:
            out_id, out_h1, out_h2 = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = _re.sub(WS_CLASS + "+", " ", (text or "").strip(" ")).lower()
                n = len(t)
                if n < WIN_K + WIN_W - 1:
                    continue
                pre1, pre2 = [0], [0]
                for ch in t:
                    c = ord(ch)
                    pre1.append((pre1[-1] * RABIN_B + c) % RABIN_M)
                    pre2.append((pre2[-1] * RABIN_B2 + c) % RABIN_M)
                n_win = n - WIN_K + 1
                h1 = [
                    (pre1[i + WIN_K] - pre1[i] * bk1) % RABIN_M for i in range(n_win)
                ]
                h2 = [
                    (pre2[i + WIN_K] - pre2[i] * bk2) % RABIN_M for i in range(n_win)
                ]
                seen = set()
                for p in range(n_win - WIN_W + 1):
                    win = h1[p : p + WIN_W]
                    pos = p + win.index(min(win))  # leftmost min
                    seen.add((h1[pos], h2[pos]))
                for a, b in sorted(seen):
                    out_id.append(int(doc_id))
                    out_h1.append(a)
                    out_h2.append(b)
            yield pd.DataFrame({"doc_id": out_id, "h1": out_h1, "h2": out_h2})

    return docs.select("doc_id", "text").mapInPandas(
        kernel, "doc_id bigint, h1 bigint, h2 bigint"
    )
