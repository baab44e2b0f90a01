"""Text analysis operators (extension surface; SURVEY.md §2.12).

Language ID (n-gram/stopword heuristic), quality rules, fingerprinting
— all as JVM column expressions over the ``documents`` table shape
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from modeltracking_spark.operators.kernel import widen_for_kernel

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from modeltracking_spark.functions.text import (
    STOPWORDS,
    _let,
    doc_fingerprint,
    stopword_ratio,
    tokens,
)

# PII patterns shared by the detector and the redactor. Only constructs
# common to Java regex (Spark) and RE2 (DuckDB) are allowed — character
# classes, bounded repetition, alternation; NO lookaround/backreferences,
# so both engines match identical spans and the redacted bytes agree.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\d{3}-\d{3}-\d{4}",
    "ipv4": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
}


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction (the scrub pass every training-data
    pipeline runs before release — CCNet/RefinedWeb keep an explicit
    regex tier even when an NER model follows): count matches per PII
    class and rewrite each span to ``<CLASS>``. Redaction order is
    email → phone → ipv4, so a phone-like fragment inside an already
    redacted email cannot double-fire; counts are taken on the ORIGINAL
    text. Pure narrow map (regexp only), shuffle-free at any scale.

    Output: original columns + n_email/n_phone/n_ipv4 +
    ``redacted_text`` + ``redacted_md5`` (byte-exact attestation).
    """
    out = df
    for name, pat in PII_PATTERNS.items():
        # Spark SQL string literals treat backslash as an escape, so the
        # regex's \d must be doubled inside expr() (regexp_replace below
        # takes the pattern as a Python value and needs no doubling)
        sql_pat = pat.replace("\\", "\\\\")
        out = out.withColumn(
            f"n_{name}",
            F.size(
                F.expr(f"regexp_extract_all({text_col}, '{sql_pat}', 0)")
            ).cast("long"),
        )
    red = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return out.withColumn("redacted_text", red).withColumn(
        "redacted_md5", F.md5(red)
    )


#: tiny per-language marker-word lists for the heuristic language ID.
#: (The container has no langdetect/fasttext; this is the n-gram-heuristic
#: tier — swap for a real model via mapInPandas when available.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "y", "es", "los"),
}


def text_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach token/char/quality metric columns (all codegen-friendly)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    avg_word_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double")
        / n_tok.cast("double"),
    ).otherwise(F.lit(0.0))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)))
        .withColumn("avg_word_len", avg_word_len)
        .withColumn("punct_count", punct)
        .withColumn("stop_ratio", stopword_ratio(text_col))
        .withColumn("fingerprint", doc_fingerprint(text_col))
    )


def lang_id_heuristic(text_col: str = "text") -> Column:
    """Marker-word language ID: pick the language with the highest marker
    hit count; no-hits → 'und'. **Tie-break is explicit and documented:**
    equal hit counts resolve to the language listed *first* in
    ``LANG_MARKERS`` (en > de > fr > es), encoded as a priority field in
    the max-struct so the choice is deterministic and oracle-expressible.
    Pure column expressions."""
    toks = F.array_distinct(tokens(text_col))
    n = len(LANG_MARKERS)
    scores = []
    for i, (lang, markers) in enumerate(LANG_MARKERS.items()):
        hits = F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers])))
        scores.append(
            F.struct(
                hits.alias("hits"),
                F.lit(n - i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


#: winnowing constants: polynomial rolling-hash base/modulus (public,
#: engine-portable int64 arithmetic: acc < 2^31 so acc*257 + code < 2^40)
WINNOW_BASE = 257
WINNOW_PRIME = 2147483647


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 7,
    window: int = 5,
    impl: str = "pandas",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS).

    Per document: normalize → k-char-gram rolling hashes (polynomial
    base-257 mod 2^31−1 over char codes — the same values an incremental
    Rabin-Karp roll produces) → over every window of ``window``
    consecutive hashes select the *rightmost minimum* → distinct
    (position, hash) fingerprints. Guarantees: any shared substring of
    length ≥ k + window − 1 yields a shared fingerprint.

    Both implementations are shuffle-free narrow maps emitting identical
    integers (parity-tested in tests/test_winnow.py):

    - ``impl='pandas'`` (default): Arrow-batched numpy — gram hashes via
      k vectorized passes, window minima via a stride-tricks sliding
      view. ~20× the column-expression path's throughput (the HOF folds
      are interpreted per element, outside whole-stage codegen), which
      is what survives a 100 TB corpus.
    - ``impl='sql'``: pure column expressions — no Python workers, and
      the direct counterpart of the DuckDB oracle SQL. **BMP-only
      guarantee:** Spark strings are UTF-16, so ``split(g, '')`` +
      ``ascii`` iterate *code units* — astral-plane characters (emoji,
      rare CJK) split into surrogate pairs and hash differently from
      the pandas path / DuckDB oracle, which use UTF-32 codepoints.
      For text containing non-BMP characters use ``impl='pandas'``
      (codepoint-exact); parity across impls is tested for the full
      BMP range in tests/test_winnow.py.

    Output: (id, pos, fp_hash) long rows.
    """
    if impl == "pandas":
        return _winnow_fingerprints_pandas(df, text_col, id_col, k, window)
    p = F.lit(WINNOW_PRIME)
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))

    def gram_hashes(c):
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(k)),
        )
        return F.transform(
            grams,
            lambda g: F.aggregate(
                F.transform(F.split(g, ""), lambda ch: F.ascii(ch).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * F.lit(WINNOW_BASE) + x) % p,
            ),
        )

    def select_fps(h):
        wins = F.sequence(
            F.lit(1), F.greatest(F.size(h) - F.lit(window - 1), F.lit(1))
        )
        # composite fingerprint: pos·2^31 + hash (hash < 2^31) so
        # array_distinct dedups (pos, hash) pairs as plain bigints
        return F.array_distinct(
            F.transform(
                wins,
                lambda j: _let(
                    F.slice(h, j, window),
                    lambda sl: _let(
                        F.array_min(sl),
                        lambda mn: F.shiftleft(
                            (
                                j
                                + F.size(sl)
                                - F.array_position(F.reverse(sl), mn)
                            ).cast("long"),
                            31,
                        )
                        + mn,
                    ),
                ),
            )
        )

    fps = _let(norm, lambda c: _let(gram_hashes(c), select_fps))
    return df.select(
        F.col(id_col).alias("id"), F.explode(fps).alias("__fp")
    ).select(
        "id",
        F.shiftright("__fp", 31).alias("pos"),
        F.col("__fp").bitwiseAND(F.lit(2147483647)).alias("fp_hash"),
    )


def _winnow_fingerprints_pandas(
    df: DataFrame, text_col: str, id_col: str, k: int, window: int
) -> DataFrame:
    """Vectorized winnowing core: identical values to the SQL path.

    Gram hashes in k numpy passes (``h = (h*B + codes[j:]) % p`` per
    gram offset j — no per-char Python loop); rightmost-window-minimum
    via ``sliding_window_view`` + argmin on the reversed window axis.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    base, prime, w = WINNOW_BASE, WINNOW_PRIME, window
    # Java \s for parity with the SQL/oracle normalization
    ws = r"[ \t\n\x0b\f\r]+"

    def _fps_fn(texts):
        import re

        out = []
        for t in texts:
            # strip(' ') not strip(): Spark trim removes spaces only
            s = re.sub(ws, " ", t or "").strip(" ").lower()
            codes = np.frombuffer(
                s.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            n = codes.size
            if n <= k:  # single (possibly short) gram, single window
                h = 0
                for c in codes:
                    h = (h * base + int(c)) % prime
                out.append([(1 << 31) + h])
                continue
            n_grams = n - (k - 1)
            gh = np.zeros(n_grams, dtype=np.int64)
            for j in range(k):
                gh = (gh * base + codes[j : j + n_grams]) % prime
            if n_grams <= w:
                sl = gh  # one (possibly short) window, rightmost min
                rpos = sl.size - 1 - int(np.argmin(sl[::-1]))
                out.append([((rpos + 1) << 31) + int(sl[rpos])])
                continue
            wins = np.lib.stride_tricks.sliding_window_view(gh, w)
            # first min of the reversed window = rightmost min
            ridx = np.argmin(wins[:, ::-1], axis=1)
            pos0 = np.arange(wins.shape[0]) + (w - 1 - ridx)  # 0-based
            comp = ((pos0 + 1) << 31) + gh[pos0]
            out.append(np.unique(comp).tolist())
        return pd.Series(out)

    # real annotation objects (module uses `from __future__ import
    # annotations`, which would stringify inline hints past pandas_udf)
    _fps_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    _fps = F.pandas_udf(_fps_fn, ArrayType(LongType()))

    return df.select(
        F.col(id_col).alias("id"), F.explode(_fps(F.col(text_col))).alias("__fp")
    ).select(
        "id",
        F.shiftright("__fp", 31).alias("pos"),
        F.col("__fp").bitwiseAND(F.lit(2147483647)).alias("fp_hash"),
    )


def token_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus token frequency table: (token, freq, doc_freq) — the
    classic one-shuffle word count plus document frequency."""
    exploded = df.select(
        F.col("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    return exploded.groupBy("token").agg(
        F.count(F.lit(1)).alias("freq"),
        F.count_distinct("doc_id").alias("doc_freq"),
    )


def gopher_rules(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Gopher-style document quality RULE filter (Rae et al. 2021,
    appendix A1.1, thresholds adapted to this corpus): it emits an
    explicit keep/drop verdict plus a bitmask of the failed rules — the
    actionable form curation pipelines log and audit. Rules:

      bit 0  word count in [30, 100000]
      bit 1  mean word length in [3, 10]
      bit 2  >= 2 DISTINCT stopwords present (the Gopher "stop word"
             requirement; also a cheap English-ness gate)
      bit 3  lexical diversity: distinct/total tokens >= 0.3
      bit 4  punctuation-to-word ratio <= 0.1

    Every ratio rule is evaluated by integer CROSS-MULTIPLICATION
    (``10*nd >= 3*n`` instead of ``nd/n >= 0.3``), so there is no
    double division anywhere and the verdicts are engine-exact. Pure
    narrow map — no shuffle at any scale. Output: (doc_id, n_tokens,
    fail_mask, keep)."""
    toks = tokens(text_col)
    n = F.size(toks).cast("long")
    sl = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    nd = F.size(F.array_distinct(toks)).cast("long")
    nstop = F.size(
        F.array_distinct(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    ).cast("long")
    punct = F.length(
        F.regexp_replace(F.col(text_col), r"[^.,;:!?]", "")
    ).cast("long")
    rules = [
        (n >= 30) & (n <= 100000),
        (3 * n <= sl) & (sl <= 10 * n),
        nstop >= 2,
        10 * nd >= 3 * n,
        punct * 10 <= n,
    ]
    mask = F.lit(0).cast("long")
    keep = F.lit(True)
    for i, r in enumerate(rules):
        mask = mask + F.when(r, 0).otherwise(1 << i)
        keep = keep & r
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_tokens"),
        mask.alias("fail_mask"),
        keep.alias("keep"),
    )


def html_extract_main_text(df: DataFrame, html_col: str = "html") -> DataFrame:
    """HTML → main-text extraction (the boilerplate-removal stage every
    web-corpus ingest runs — the trafilatura/jusText job, reduced to
    its relational core): isolate the content container, strip the
    remaining tags, and normalize whitespace — chrome (nav, footer,
    head) never reaches the output. All JVM regex (Java∩RE2 patterns,
    the pii_scrub discipline) so the pass is a pure shuffle-free
    projection and every step replays in the oracle engine.

    Patterns run in DOTALL mode, so multi-line pages extract correctly.
    CONTRACT: the content container must not nest further <div>s (the
    non-greedy match stops at the first closing tag) — regex extraction
    is inherently non-nesting, and nested-DOM pages are the plug-in
    point for a real HTML parser (lxml/trafilatura), exactly like the
    compressed-codec seams in the multimodal tier.

    Adds: ``title`` (the <title> text), ``main_text`` (content with
    tags stripped, whitespace-normalized), ``main_chars``."""
    h = F.col(html_col)
    title = F.regexp_extract(h, "(?s)<title>(.*?)</title>", 1)
    content = F.regexp_extract(h, '(?s)<div class="content">(.*?)</div>', 1)
    stripped = F.regexp_replace(content, "<[^>]*>", " ")
    main = F.trim(F.regexp_replace(stripped, "\\s+", " "))
    return (
        df.withColumn("title", title)
        .withColumn("main_text", main)
        .withColumn("main_chars", F.length("main_text").cast("long"))
    )


#: query parameters dropped during URL canonicalization (tracking junk)
URL_TRACKING_PARAMS = ("utm_", "fbclid", "gclid")


def canonicalize_url(url_col: str = "url") -> Column:
    """URL canonicalization — the normalize-before-dedup step of web
    curation (without it, the same page survives as dozens of tracking
    variants): lowercase scheme and host, strip default ports (:80 for
    http, :443 for https), drop the fragment, remove tracking query
    params (utm_*, fbclid, gclid), and SORT the surviving params so
    param order never splits a dedup key. Pure column expressions
    (regexp groups + split/filter/sort/rejoin), shuffle-free, and every
    step has a DuckDB list-function twin."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[^:/]+://([^/:?#]+)", 1))
    port = F.regexp_extract(u, r"^[^:/]+://[^/:?#]+:(\d+)", 1)
    path = F.regexp_extract(u, r"^[^:/]+://[^/?#]+([^?#]*)", 1)
    # anchored before any '#': a '?' inside the fragment must NOT be
    # mistaken for a query string (fragments are dropped wholesale)
    qs = F.regexp_extract(u, r"^[^#]*?\?([^#]*)", 1)

    def _keep(p):
        cond = p != F.lit("")
        for t in URL_TRACKING_PARAMS:
            cond = cond & ~p.startswith(t)
        return cond

    keep = F.filter(F.split(qs, "&"), _keep)
    canon_q = F.concat_ws("&", F.array_sort(keep))
    default = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when(
        (port == "") | default, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path_part = F.when(path == "", F.lit("/")).otherwise(path)
    canon = F.concat(
        scheme, F.lit("://"), host, port_part, path_part,
        F.when(canon_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), canon_q)),
    )
    # scheme-less/relative inputs would collapse onto shared ':///...'
    # junk keys (merging DISTINCT pages in a downstream dedup) — pass
    # them through unchanged instead
    return F.when(host == "", u).otherwise(canon)


def blocklist_match_counts(
    docs: DataFrame,
    keywords: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multi-pattern SUBSTRING blocklist matching via a from-scratch
    Aho-Corasick automaton (Aho & Corasick 1975) — the corpus-curation
    blocklist stage (bad-phrase lists, contamination markers) where a
    per-keyword scan or regex alternation is O(n_keywords · text) and
    the automaton is ONE pass per document regardless of list size.

    Semantics: every occurrence counts, overlapping ones included (the
    automaton's output links report each keyword ending at each
    position), and matches are raw substrings — NOT token-aligned, so
    phrases spanning word boundaries are found; token-level scrubbing
    is the ``pii_redact``/``gopher_rules`` tier.

    Scale posture: the automaton is built once on the driver from the
    (bounded, human-curated) keyword list and rides the mapInPandas
    closure like a broadcast dictionary — a narrow shuffle-free map;
    real blocklists are 10k-1M phrases, far under closure limits.

    Output: (doc_id, kw_id, keyword, n_occ) with n_occ >= 1 only.
    """
    if not keywords or any(not k for k in keywords):
        raise ValueError("keywords must be non-empty strings")
    kws = list(keywords)

    def _build():
        from collections import deque

        nxt: list[dict] = [{}]
        fail = [0]
        out: list[list[int]] = [[]]
        for ki, kw in enumerate(kws):
            s = 0
            for ch in kw:
                if ch not in nxt[s]:
                    nxt.append({})
                    fail.append(0)
                    out.append([])
                    nxt[s][ch] = len(nxt) - 1
                s = nxt[s][ch]
            out[s].append(ki)
        q = deque()
        for s in nxt[0].values():
            q.append(s)
        while q:
            r = q.popleft()
            for ch, u in nxt[r].items():
                q.append(u)
                v = fail[r]
                while v and ch not in nxt[v]:
                    v = fail[v]
                f = nxt[v].get(ch, 0)
                fail[u] = 0 if f == u else f
                out[u] = out[u] + out[fail[u]]
        return nxt, fail, out

    def _scan(batches):
        import pandas as pd

        nxt, fail, out = _build()
        for pdf in batches:
            ids, kids, noccs = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                counts: dict[int, int] = {}
                s = 0
                for ch in text:
                    while s and ch not in nxt[s]:
                        s = fail[s]
                    s = nxt[s].get(ch, 0)
                    for ki in out[s]:
                        counts[ki] = counts.get(ki, 0) + 1
                for ki in sorted(counts):
                    ids.append(int(did))
                    kids.append(ki)
                    noccs.append(counts[ki])
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "kw_id": pd.Series(kids, dtype="int32"),
                 "n_occ": pd.Series(noccs, dtype="int64")}
            )

    hits = widen_for_kernel(docs.select(id_col, text_col)).mapInPandas(
        _scan, "doc_id bigint, kw_id int, n_occ bigint"
    )
    kw_rows = docs.sparkSession.createDataFrame(
        [(i, k) for i, k in enumerate(kws)], "kw_id int, keyword string"
    )
    return hits.join(F.broadcast(kw_rows), "kw_id").select(
        "doc_id", "kw_id", "keyword", "n_occ"
    )


# --------------------------------------------------------------------- NFC

#: decomposed/ordering/Hangul exercise string appended by the oracled
#: query's fixture arm: e+COMBINING ACUTE (composes to U+00E9),
#: precomposed U+00E9 (stays), A+COMBINING RING (-> U+00C5), q + dot
#: above + dot below (canonical REORDERING: ccc 230 after ccc 220),
#: Hangul jamo L+V (-> syllable U+AC00).
NFC_EXERCISE_SUFFIX = (
    " e\u0301 \u00e9 A\u030a q\u0307\u0323 \u1100\u1161 fin"
)


def nfc_normalize_col(df: DataFrame, text_col: str = "text",
                      out_col: str = "nfc_text") -> DataFrame:
    """Unicode NFC canonical normalization as an Arrow-batched pandas
    UDF (``unicodedata.normalize`` is the Python reference
    implementation of UAX #15; DuckDB's utf8proc-backed
    ``nfc_normalize`` is the independent oracle). Narrow per-row map —
    no shuffle, scale-free. The normalize-before-hash step every
    text-dedup pipeline needs: byte-distinct but canonically-equal
    docs (decomposed accents, unordered combining marks, Hangul jamo)
    must hash identically or exact-dedup silently under-merges."""
    import pandas as pd

    def _nfc_fn(s):
        import unicodedata

        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    _nfc_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _nfc = F.pandas_udf(_nfc_fn, "string")
    return df.withColumn(out_col, _nfc(F.col(text_col)))
