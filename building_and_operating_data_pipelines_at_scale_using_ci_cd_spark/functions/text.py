"""Text-analysis column functions (north-star surface, SURVEY.md §2.10).

All pure Column expressions — JVM-side, inside whole-stage codegen, no
Python crossing — so they run at 100 TB the same as any built-in. The
reference exposes no UDF surface (spark.json offers only SQL strings,
SURVEY.md §2.9); these register as composable expressions our config SQL
and the DataFrame API both reach.

Portable-hash discipline: every hash that feeds a dedup/LSH decision is
derived from ``md5`` (bit-identical in any engine) rather than engine-
specific hash functions, so results are reproducible across engines and
across Spark versions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: small multi-language stopword table for the lang-id heuristic
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
}

#: default English-ish stopwords for quality scoring
DEFAULT_STOPWORDS = STOPWORDS["en"]


def tokens(text: Column, sep: str = " ") -> Column:
    """Whitespace tokenizer."""
    return F.split(text, sep)


def token_count(text: Column, sep: str = " ") -> Column:
    return F.size(tokens(text, sep))


def shingles_from_tokens(tk: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles from a token array; the unit of near-dup
    detection. Empty when the doc has fewer than ``n`` tokens (guarded:
    ``sequence(1,0)`` would count DOWN in Spark).

    PERFORMANCE CONTRACT: on hot paths pass a MATERIALIZED token column —
    the transform lambda slices ``tk`` per shingle index, and Spark does
    not hoist loop-invariant expressions out of lambdas, so an inline
    ``split()`` here is re-tokenized once per shingle (O(tokens²))."""
    idx = F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1))
    return F.array_distinct(
        F.when(
            F.size(tk) >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, n))),
        ).otherwise(F.array().cast("array<string>"))
    )


def shingles(text: Column, n: int = 3, sep: str = " ") -> Column:
    """Single-expression text→shingles (API compatibility); prefer
    staging ``tokens()`` into its own projection first on hot paths —
    see :func:`shingles_from_tokens`."""
    return shingles_from_tokens(tokens(text, sep), n)


def portable_hash(col: Column, seed: int = 0) -> Column:
    """32-bit integer hash derived from md5 — identical in every engine
    that has md5 (used so DuckDB oracles can mirror LSH exactly)."""
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(f"#{seed}"))), 1, 8), 16, 10
    ).cast("bigint")


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or DEFAULT_STOPWORDS
    tk = tokens(F.lower(text))
    hits = F.size(F.filter(tk, lambda t: t.isin(*sw)))
    return hits / F.size(tk)


def punct_ratio(text: Column) -> Column:
    """Share of non-alphanumeric, non-space characters."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.length(text)


def avg_token_len(text: Column) -> Column:
    n = token_count(text)
    return F.length(F.regexp_replace(text, r"\s", "")) / n


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: favors mid-length docs with healthy
    stopword share and low punctuation — the standard cheap pre-filter
    for LLM training corpora. Deterministic and oracle-expressible."""
    n_tok = token_count(text).cast("double")
    length_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    sw_score = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    punct_penalty = F.greatest(F.lit(1.0) - punct_ratio(text) * 5, F.lit(0.0))
    return F.round((length_score + sw_score + punct_penalty) / 3.0, 4)


def lang_id(text: Column) -> Column:
    """N-gram/stopword language heuristic: score each language by its
    stopword hit-rate, pick the argmax ('und' = undetermined when no
    stopwords hit). Pure CASE/array expression — no Python."""
    tk = tokens(F.lower(text))

    def _hits(sw: list[str]) -> Column:
        # single-arg lambda: a second (defaulted) parameter would make Spark
        # pass the element index as the second Column
        return F.size(F.filter(tk, lambda t: t.isin(*sw)))

    scores = [(lang, _hits(sw)) for lang, sw in STOPWORDS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    for lang, s in reversed(scores):  # earlier langs win ties
        result = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(result)
    return result


def gram_hashes(text: Column, k: int = 5) -> Column:
    """md5-derived 32-bit hash of every char ``k``-gram (empty array when
    the doc is shorter than ``k`` — guarded: a descending ``sequence``
    would otherwise count down)."""
    n = F.length(text)
    gram_idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    hashed = F.transform(
        gram_idx,
        lambda i: F.conv(F.substring(F.md5(F.substring(text, i, k)), 1, 8), 16, 10).cast(
            "bigint"
        ),
    )
    return F.when(n >= F.lit(k), hashed).otherwise(F.array().cast("array<bigint>"))


def winnow_select(hashes: Column, w: int = 4) -> Column:
    """Winnowing selection (the rolling-hash document fingerprinting of
    MOSS, Schleimer et al. 2003): slide a window of ``w`` consecutive
    gram hashes, keep each window's minimum. Documents sharing any run of
    ≥ k+w-1 chars are guaranteed to share a selected fingerprint, at ~1/w
    the storage of all grams.

    PERFORMANCE CONTRACT: ``hashes`` must be a MATERIALIZED column (an
    attribute produced by a previous select), not the ``gram_hashes``
    expression inline — Spark does not hoist loop-invariant
    subexpressions out of higher-order-function lambdas, so slicing an
    inline expression re-evaluates every gram hash per window: O(n²) md5
    per document (measured 25× slower at 500 docs). Use
    :func:`operators.dedup.winnow_fingerprint_sets` which stages it
    correctly."""
    win_idx = F.sequence(F.lit(1), F.size(hashes) - F.lit(w - 1))
    mins = F.transform(win_idx, lambda j: F.array_min(F.slice(hashes, j, w)))
    return F.when(
        F.size(hashes) >= F.lit(w), F.array_sort(F.array_distinct(mins))
    ).otherwise(F.array().cast("array<bigint>"))


#: PII patterns restricted to syntax valid in BOTH Java regex (Spark) and
#: RE2 (DuckDB/Go) — no backrefs, no lookaround — so oracles can mirror
#: the redaction exactly and the same config SQL runs anywhere.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
]


def redact_pii(text: Column) -> Column:
    """Scrub common PII shapes (emails, NANP phones, IPv4s, SSNs) to
    bracketed placeholder tokens — the standard pre-training redaction
    pass. Chained regexp_replace: pure JVM expressions, codegen'd, no
    Python in the hot path. Order matters: emails first so their digit
    runs can't be half-eaten by the phone/SSN patterns."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def filter_rules(text: Column) -> list[tuple[str, Column]]:
    """The C4/Gopher-style corpus filter rules as (name, violated?)
    pairs — the standard cheap document filters every training pipeline
    applies before dedup. All pure Column expressions (codegen'd), all
    mirrorable in an ANSI-SQL oracle.

    Thresholds follow the published heuristics (Gopher §A1.1 word counts
    / mean word length / symbol ratios; C4 stopword requirement), scaled
    to whitespace tokens."""
    n_tok = token_count(text).cast("double")
    return [
        ("too_few_tokens", n_tok < 30),
        ("too_many_tokens", n_tok > 5000),
        ("low_stopword_ratio", stopword_ratio(text) < 0.05),
        ("high_punct_ratio", punct_ratio(text) > 0.10),
        ("short_avg_token", avg_token_len(text) < 2.0),
        ("long_avg_token", avg_token_len(text) > 12.0),
        (
            "high_token_repetition",
            F.lit(1.0) - F.size(F.array_distinct(tokens(F.lower(text)))) / n_tok > 0.6,
        ),
    ]


def filter_reasons(text: Column) -> Column:
    """Array of tripped rule names (empty = document passes all filters).
    ``F.filter`` over a literal-built array keeps the whole rule ledger
    one codegen'd expression."""
    tagged = F.array(
        *[F.when(cond, F.lit(name)) for name, cond in filter_rules(text)]
    )
    return F.filter(tagged, lambda x: x.isNotNull())


def doc_fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 over the sorted distinct token set —
    invariant to token order/duplication, the cheap first pass before
    shingle-level near-dup."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def word_tokens(text: Column) -> Column:
    """Lowercased alphanumeric word tokens — the shared tokenization of
    the LM-scoring operators (pattern kept to [a-z0-9] runs so Spark's
    and an oracle engine's regex dialects agree byte-for-byte)."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def unigram_cross_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram language
    model: H(doc) = avg over tokens of −log2 p(token), p = corpus count /
    corpus total. The classic cheap "perplexity filter" signal (CCNet
    uses a KenLM 5-gram; the unigram model is the dependency-free tier —
    the plan shape below is identical for any n) — low-probability-dense
    documents (gibberish, rare-token spam) score high and get culled.

    Shape at scale: one explode of the corpus into tokens, ONE groupBy
    for the model (map-side partial agg; vocabulary, not corpus, sized),
    the corpus total as a one-row broadcast (no driver collect), and one
    token→count join — Zipf makes the count table heavily skewed toward a
    few hot tokens, but the join's build side is the VOCABULARY, which
    broadcasts at any corpus scale where it fits (AQE picks the shuffle
    fallback when it doesn't). Returns (id, n_tokens, cross_entropy)."""
    # materialized once: the token stream feeds the model groupBy AND the scoring
    # join probe (and the model feeds the total) — un-persisted, Catalyst
    # re-runs the explode subtree per consumer (measured 3 explodes)
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_tokens(F.col(text_col))).alias("__tok"),
    ).localCheckpoint(eager=False)
    counts = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c")).localCheckpoint(eager=False)
    total = counts.groupBy().agg(F.sum("__c").alias("__n"))
    return (
        toks.join(counts, "__tok")
        .join(F.broadcast(total))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log2(F.col("__c").cast("double") / F.col("__n"))), 4
            ).alias("cross_entropy"),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "cross_entropy")
    )


def bigram_cross_entropy(
    df: DataFrame, id_col: str, text_col: str, lam: float = 0.7
) -> DataFrame:
    """Per-document cross-entropy under an interpolated bigram LM trained
    on the corpus itself: p(t|prev) = lam·count(prev,t)/count(prev) +
    (1-lam)·count(t)/total — one rung below the KenLM 5-gram CCNet uses,
    same plan shape at any n. Documents scoring high are dense in
    improbable transitions (shuffled text, spam, boilerplate splices)
    that a unigram model cannot see.

    Shape at scale: bigrams are generated MAP-SIDE per row with
    ``zip_with`` over adjacent slices (no window, no per-doc shuffle);
    the model tables are (distinct-bigram)- and vocab-sized groupBys with
    map-side partial agg. The three count tables are pre-joined into ONE
    bigram-keyed model table first (model-sized joins), so the
    corpus-sized bigram stream passes through a single scoring join
    instead of three — at 100 TB that is two fewer corpus-wide
    shuffle/broadcast passes. Zipf keeps the model far below corpus
    size; the corpus total rides a one-row broadcast. Only documents
    with ≥2 tokens appear (a bigram needs a transition)."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    toks = df.select(
        F.col(id_col).alias("__id"), word_tokens(F.col(text_col)).alias("__a")
    ).filter(F.size("__a") >= 2)
    # materialized once: the bigram stream feeds the model groupBy AND the scoring
    # join; the bigram-count and unigram-count tables each feed two
    # consumers as well (ctx/model, total/model) — un-persisted, every
    # consumer re-ran its explode subtree (measured 5 explodes; 2 after)
    bigrams = toks.select(
        "__id",
        F.explode(
            F.zip_with(
                F.slice(F.col("__a"), 1, F.size("__a") - 1),
                F.slice(F.col("__a"), 2, F.size("__a") - 1),
                lambda p, t: F.struct(p.alias("prev"), t.alias("tok")),
            )
        ).alias("__b"),
    ).select(
        "__id", F.col("__b.prev").alias("__prev"), F.col("__b.tok").alias("__tok")
    ).localCheckpoint(eager=False)
    bi_counts = (
        bigrams.groupBy("__prev", "__tok").agg(F.count(F.lit(1)).alias("__cbi")).localCheckpoint(eager=False)
    )
    ctx_counts = bi_counts.groupBy("__prev").agg(F.sum("__cbi").alias("__cctx"))
    uni_counts = (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("__tok"))
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__cuni"))
        .localCheckpoint(eager=False)
    )
    total = uni_counts.groupBy().agg(F.sum("__cuni").alias("__n"))
    p = F.lit(lam) * F.col("__cbi").cast("double") / F.col("__cctx") + F.lit(
        1.0 - lam
    ) * F.col("__cuni").cast("double") / F.col("__n")
    model = bi_counts.join(ctx_counts, "__prev").join(uni_counts, "__tok")
    return (
        bigrams.join(model, ["__prev", "__tok"])
        .join(F.broadcast(total))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.log2(p)), 4).alias("bigram_cross_entropy"),
        )
        .select(F.col("__id").alias(id_col), "n_bigrams", "bigram_cross_entropy")
    )


#: candidate payment-card shapes: 13-19 digits with optional single
#: space/dash separators, word-bounded. Valid in Java regex AND RE2 (no
#: lookaround), so the DuckDB oracle extracts the same candidates. A
#: 20+-digit run matches nowhere (\b can't land mid-run) — correctly
#: not a card.
CARD_CANDIDATE_RE = r"\b(?:\d[ -]?){12,18}\d\b"


def luhn_valid(candidate: Column) -> Column:
    """Luhn checksum over a candidate string's digits — pure JVM
    higher-order functions (regexp digit extract, reverse, indexed
    aggregate), no UDF. True iff 13-19 digits and the mod-10 check
    passes. Mirrored 1:1 by the lambda inside
    :func:`redact_cards_sql`."""
    digits = F.regexp_extract_all(candidate, F.lit("[0-9]"), 0)
    rev = F.reverse(digits)
    n = F.size(digits)
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 1, F.element_at(rev, i).cast("int")
        ).otherwise(
            F.when(
                F.element_at(rev, i).cast("int") * 2 > 9,
                F.element_at(rev, i).cast("int") * 2 - 9,
            ).otherwise(F.element_at(rev, i).cast("int") * 2)
        ),
    )
    return (n >= 13) & (n <= 19) & (total % 10 == 0)


def redact_cards(text: Column) -> Column:
    """Replace payment-card numbers with ``[CARD]`` — but ONLY
    candidates whose digits pass the Luhn checksum, so a random
    16-digit id or order number survives (the false-positive problem a
    bare ``\\d{16}`` redaction has). Extraction, validation and
    replacement are all JVM higher-order functions: extract distinct
    candidates, filter by :func:`luhn_valid`, fold literal
    ``replace``s over the text. No Python, no UDF, mirrored exactly by
    :func:`redact_cards_sql`."""
    cands = F.array_distinct(
        F.regexp_extract_all(text, F.lit(CARD_CANDIDATE_RE), 0)
    )
    valid = F.filter(cands, luhn_valid)
    # \b-anchored replace, NOT a literal substring replace: a valid card
    # extracted word-bounded elsewhere must not also rewrite the same
    # digits EMBEDDED inside a longer run (a 20-digit order id that
    # happens to contain the card). Candidates consist only of
    # [0-9 -] — no regex metacharacters — so the candidate embeds into
    # the pattern verbatim.
    return F.aggregate(
        valid,
        text,
        lambda acc, c: F.regexp_replace(
            acc, F.concat(F.lit("\\b"), c, F.lit("\\b")), F.lit("[CARD]")
        ),
    )


def redact_cards_sql(expr: str) -> str:
    """DuckDB mirror of :func:`redact_cards` over ``expr`` — same
    candidate regex, same Luhn lambda, same distinct+fold replacement
    (kept beside the Column version so the two evolve together)."""
    cands = f"list_distinct(regexp_extract_all({expr}, '{CARD_CANDIDATE_RE}'))"
    digits = "regexp_extract_all(c, '[0-9]')"
    luhn = (
        f"len({digits}) BETWEEN 13 AND 19 AND "
        f"list_sum(list_transform(range(1, len({digits}) + 1), i -> "
        f"CASE WHEN i % 2 = 1 THEN CAST(list_reverse({digits})[i] AS INT) "
        f"ELSE CASE WHEN CAST(list_reverse({digits})[i] AS INT) * 2 > 9 "
        f"THEN CAST(list_reverse({digits})[i] AS INT) * 2 - 9 "
        f"ELSE CAST(list_reverse({digits})[i] AS INT) * 2 END END)) % 10 = 0"
    )
    valid = f"list_filter({cands}, c -> {luhn})"
    # same \b anchoring as the Spark side (RE2 supports \b); 'g' because
    # DuckDB's regexp_replace is first-match-only by default
    return (
        f"list_reduce(list_prepend(CAST({expr} AS VARCHAR), {valid}), "
        f"(acc, c) -> regexp_replace(acc, '\\b' || c || '\\b', '[CARD]', 'g'))"
    )
