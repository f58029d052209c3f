"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Everything is JVM-side column expressions (split / higher-order array
functions / hashes) — map-only over the corpus, no shuffle, so the
operators scale linearly and compose with any downstream groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword-hit
# language-ID heuristic. Deliberately deterministic and dependency-free;
# swap for a real model via map_in_pandas when libs are available.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "por"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "人"],
}


def tokenize_ws(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), r"\s+")


def bind1(col: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``col`` ONCE per row
    and reference it any number of times inside ``body`` as a lambda
    variable.

    Load-bearing at scale (r10 probe finding): higher-order-function
    lambdas are interpreted (CodegenFallback) and get NO common-
    subexpression elimination, so an O(len) Column like ``split(text)``
    inlined into a per-element gram lambda re-evaluates the full split
    for EVERY gram — O(words^2) per document, ~20x slower than the
    bound form on a 2M-doc corpus. ``transform`` over a one-element
    array binds the value to a real lambda variable instead."""
    return F.transform(F.array(col), body)[0]


def tokenize_bpe_ish(text: Column) -> Column:
    """BPE-ish subword segmentation via regex: splits words, numbers,
    punctuation runs — a deterministic stand-in for a learned tokenizer
    with the same Spark plumbing (one array column per doc)."""
    return F.filter(
        F.split(F.regexp_replace(
            F.lower(text), r"([a-z]+|[0-9]+|[^a-z0-9\s])", "$1"), ""),
        lambda t: F.trim(t) != "")


def word_ngrams(text: Column, n: int, distinct: bool = True) -> Column:
    """Word n-grams of the whitespace-tokenized text; empty array below
    n words. The single source of truth for the pipeline's gram
    construction (repetition, contamination) — the oracle-gated query
    twins in queries.py keep their own frozen copies by design."""
    def build(words):
        g = F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", *[words[i + j] for j in range(n)]))
        if distinct:
            g = F.array_distinct(g)
        return F.when(F.size(words) >= n, g).otherwise(
            F.array().cast("array<string>"))

    return bind1(tokenize_ws(text), build)   # split once, not per gram


def token_count(text: Column, tokenizer: str = "ws") -> Column:
    toks = tokenize_ws(text) if tokenizer == "ws" else tokenize_bpe_ish(text)
    return F.size(toks)


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality signals: length, token stats, punctuation and
    stopword ratios, uppercase ratio — the usual pre-training filters."""
    toks = tokenize_ws(text)
    n_tok = F.size(toks)
    # empty/whitespace-only docs: n_chars would be 0 and ANSI mode
    # turns the ratio divisions into job-aborting DIVIDE_BY_ZERO —
    # exactly the docs a quality filter exists to drop, so the
    # denominators floor at 1 (ratios become 0 and the doc scores low)
    n_chars = F.length(text)
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_tok = F.greatest(n_tok, F.lit(1))
    en_stops = LANG_PROFILES["en"]
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*en_stops)))
    punct = F.length(F.regexp_replace(text, r"[^\p{Punct}]", ""))
    upper = F.length(F.regexp_replace(text, r"[^A-Z]", ""))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "mean_token_len": F.round(n_chars / safe_tok, 4),
        "stopword_ratio": F.round(stop_hits / safe_tok, 4),
        "punct_ratio": F.round(punct / safe_chars, 4),
        "upper_ratio": F.round(upper / safe_chars, 4),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score from the features (heuristic
    weights). Empty/whitespace-only docs score 0 outright — their
    "features" (one pseudo-token of whitespace) would otherwise earn
    partial credit."""
    f = quality_features(text)
    length_ok = F.when((f["n_tokens"] >= 5) & (f["n_tokens"] <= 100000), 1.0).otherwise(0.0)
    token_len_ok = F.when(f["mean_token_len"].between(2.0, 12.0), 1.0).otherwise(0.0)
    punct_ok = F.when(f["punct_ratio"] <= 0.2, 1.0).otherwise(0.0)
    score = F.round((length_ok + token_len_ok + punct_ok) / 3.0, 4)
    return F.when(F.length(F.trim(text)) > 0, score).otherwise(0.0)


def lang_id(text: Column) -> Column:
    """argmax language by stopword hits; 'und' (undetermined) when no hits.

    Ties break by profile order (en, de, es, fr, zh) deterministically.
    """
    toks = F.transform(tokenize_ws(text), lambda t: F.lower(t))
    scores = [(k, F.size(F.filter(toks, lambda t: t.isin(*words))))
              for k, words in LANG_PROFILES.items()]
    best = F.lit("und")
    best_score = F.lit(0)
    for k, s in reversed(scores):  # reversed so earlier profiles win ties
        cond = s > best_score
        best = F.when(cond, F.lit(k)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return best


def rolling_fingerprint(text: Column, window: int = 8) -> Column:
    """Winnowing-style document fingerprint: min xxhash64 over rolling
    character n-grams of the normalized text, as a hex string. Robust to
    local edits, unlike a whole-document digest."""
    # normalized text bound once per row (bind1 docstring: an inlined
    # regexp_replace re-runs per character gram — O(chars^2) per doc)
    return bind1(
        F.regexp_replace(F.lower(text), r"\s+", " "),
        lambda norm: F.lower(F.hex(F.array_min(F.transform(
            F.transform(
                F.sequence(F.lit(1),
                           F.greatest(F.length(norm) - window + 1,
                                      F.lit(1))),
                lambda i: norm.substr(i, F.lit(window))),
            lambda g: F.xxhash64(g))))))


def profile_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass document profile: tokens, quality features + score,
    language guess, fingerprint."""
    t = F.col(text_col)
    feats = quality_features(t)
    return df.select(
        F.col(id_col),
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_token_len"].alias("mean_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_guess"),
        rolling_fingerprint(t).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Category -> (pattern, replacement token).  Patterns deliberately use
# only the regex subset Java (Spark) and RE2 (DuckDB) evaluate
# identically — no backrefs, no lookaround — so the DuckDB oracle twin
# can re-run them verbatim and every redaction is cross-engine checkable.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
              "<EMAIL>"),
    "phone": (r"\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ]?[0-9]{0,4}",
              "<PHONE>"),
    "ipv4": (r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    "ssn": (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
}


# Redaction priority: SSN before phone so the more specific dashed-digit
# shape wins; email before ipv4 so user@host-style text redacts as one
# email.  pii_counts counts in this SAME order on progressively-scrubbed
# text, so each count equals the number of redactions pii_scrub actually
# performs for that category — overlapping patterns can never double-count.
PII_SCRUB_ORDER: tuple[str, ...] = ("email", "ssn", "ipv4", "phone")
# completeness guard: both pii_scrub and pii_counts iterate the ORDER
# tuple, so a category added to PII_PATTERNS without a slot here would
# silently be neither redacted nor counted (and the DuckDB oracle,
# which mirrors the same order, would agree) — fail at import instead.
# An explicit raise, not assert: python -O strips asserts, which would
# silently reopen exactly the hole this guard documents.
if set(PII_SCRUB_ORDER) != set(PII_PATTERNS):
    raise RuntimeError(
        f"PII_SCRUB_ORDER {PII_SCRUB_ORDER} does not cover PII_PATTERNS "
        f"{sorted(PII_PATTERNS)} — every category needs a scrub slot")


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII redaction counts (map-only JVM expressions).

    Each category is counted on the text AFTER all higher-priority
    categories (PII_SCRUB_ORDER) have been replaced, so the counts are
    exactly the redactions ``pii_scrub`` performs — a span consumed by a
    higher-priority category is never also counted by a lower one."""
    counts: dict[str, Column] = {}
    cur = text
    for cat in PII_SCRUB_ORDER:
        pat, rep = PII_PATTERNS[cat]
        counts[cat] = F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
        cur = F.regexp_replace(cur, pat, rep)
    return counts


def pii_scrub(text: Column) -> Column:
    """Redact every PII category in PII_SCRUB_ORDER (see the ordering
    rationale on the constant).

    Map-only chained regexp_replace — no shuffle, no Python; scales
    linearly with the corpus like every text operator in this module."""
    out = text
    for cat in PII_SCRUB_ORDER:
        pat, rep = PII_PATTERNS[cat]
        out = F.regexp_replace(out, pat, rep)
    return out


def scrub_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub ``text_col`` in place and append per-category counts plus a
    total (``pii_total``) for downstream filtering/auditing."""
    counts = pii_counts(F.col(text_col))
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return df.withColumns(
        {**{f"pii_{cat}": c for cat, c in counts.items()},
         "pii_total": total,
         text_col: pii_scrub(F.col(text_col))})


# ---------------------------------------------------------------------------
# MOSS winnowing (local fingerprinting with a selection guarantee)
# ---------------------------------------------------------------------------

def winnowing_fingerprints(df: DataFrame, id_col: str, text_col: str, *,
                           k: int = 4, w: int = 5) -> DataFrame:
    """Per-document winnowing fingerprints (Schleimer/Wilkerson/Aiken
    2003): hash every word k-gram, slide a w-window over the hash
    sequence, select each window's minimum with the RIGHTMOST-on-ties
    rule (robust winnowing), and dedup the selections per document.
    Guarantee: any run of k+w-1 shared tokens yields a shared
    fingerprint — a property MinHash's random sampling cannot give.

    Returns ``(id_col, h string)`` distinct rows, fingerprint density
    ~2/(w+1) of the k-gram count. Documents shorter than ``k`` tokens
    yield NO fingerprints — the paper's scheme defines no k-grams
    below k tokens (two unrelated single-token docs must not collide).

    Scale shape: k-gram hashing is let-bound map-only array work
    (:func:`bind1` — split evaluated once per row, never per gram);
    the rightmost-tie rule is encoded in the window key itself
    (hash || zero-padded (1e8 - pos)), so selection is ONE plain MIN
    frame over a single doc-keyed exchange of (12-byte hash, pos)
    rows; raw text never shuffles."""
    from pyspark.sql import Window as W

    # sub-k docs: the when() guard yields NULL grams, which posexplode
    # drops — short docs produce zero fingerprints without a second
    # tokenize pass (stays map-only, split still evaluated once per row)
    grams = bind1(
        tokenize_ws(F.lower(df[text_col])),
        lambda arr: F.when(
            F.size(arr) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - (k - 1)),
                lambda i: F.substring(
                    F.md5(F.concat_ws(" ", F.slice(arr, i, k))), 1, 12))))
    kg = df.select(F.col(id_col),
                   F.posexplode(grams).alias("p0", "h"))
    keyed = (kg.select(id_col, (F.col("p0") + 1).alias("pos"), "h")
             .withColumn("k", F.concat(
                 F.col("h"),
                 F.lpad((F.lit(100000000) - F.col("pos")).cast("string"),
                        9, "0"))))
    dw = W.partitionBy(id_col).orderBy("pos")
    m = F.count("*").over(W.partitionBy(id_col))
    sel = (keyed
           .withColumn("m", m)
           .withColumn("s", F.min("k").over(dw.rowsBetween(0, w - 1)))
           .filter(F.col("pos") <= F.greatest(F.col("m") - (w - 1),
                                              F.lit(1))))
    return sel.select(id_col, F.substring("s", 1, 12).alias("h")).distinct()


def winnowing_pairs(df: DataFrame, id_col: str, text_col: str, *,
                    k: int = 4, w: int = 5, min_shared: int = 3,
                    max_doc_freq: int | None = None) -> DataFrame:
    """Cross-document overlap pairs from winnowing fingerprints: every
    (doc_a, doc_b) sharing >= ``min_shared`` selected fingerprints,
    with doc_a < doc_b.

    ``max_doc_freq`` is the standard MOSS refinement and the 100 TB
    guard, in two ways at once. (1) Skew: a fingerprint present in
    more than that many documents (boilerplate, license headers,
    planted phrases) is dropped — one hot hash shared by f documents
    would otherwise contribute f²/2 rows to the pair aggregation
    (measured at probe scale: a 12-word phrase planted in ~14k of 2M
    documents makes the unguarded join build ~1e8 pairs from ~5
    hashes). (2) Plan shape: with the cap, per-hash document lists are
    BOUNDED, so pairs come from ONE hash-keyed groupBy with
    ``collect_set`` + an in-array pair expansion (≤ cap²/2 structs per
    hash) — the fingerprint pipeline executes once and the corpus-
    sized rows cross exactly two exchanges (the doc_id window, the
    hash groupBy). The uncapped path must self-join instead, which
    RE-EXECUTES the whole fingerprint pipeline for the second side and
    adds two more corpus-sized shuffles — at the 20M-doc probe tier
    (~360M fingerprints) that stack of spills filled a 75 GB disk
    (ENOSPC) while the grouped path fits. None therefore means the
    oracle-exact self-join shape that queries.q_winnowing_pairs
    certifies on the driver's testdata; any corpus-scale run should
    pass a cap."""
    fp = winnowing_fingerprints(df, id_col, text_col, k=k, w=w)
    if max_doc_freq is not None:
        ds = F.col("ds")
        n = F.size(ds)
        pairs = F.flatten(F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.sequence(i + 1, n - 1),
                lambda j: F.struct(F.element_at(ds, i + 1).alias("a"),
                                   F.element_at(ds, j + 1).alias("b")))))
        return (fp.groupBy("h")
                .agg(F.sort_array(F.collect_set(id_col)).alias("ds"))
                .filter((F.size("ds") >= 2)
                        & (F.size("ds") <= max_doc_freq))
                .select(F.explode(pairs).alias("p"))
                .groupBy(F.col("p.a").alias("doc_a"),
                         F.col("p.b").alias("doc_b"))
                .agg(F.count("*").cast("long").alias("shared_fingerprints"))
                .filter(F.col("shared_fingerprints") >= min_shared))
    fb = fp.select(F.col(id_col).alias("doc_b"), "h")
    return (fp.join(fb, "h")
            .filter(F.col(id_col) < F.col("doc_b"))
            .groupBy(F.col(id_col).alias("doc_a"), "doc_b")
            .agg(F.count("*").cast("long").alias("shared_fingerprints"))
            .filter(F.col("shared_fingerprints") >= min_shared))
