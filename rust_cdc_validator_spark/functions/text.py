"""Text-analysis column functions for large-scale training-data pipelines.

All hot-path computation is built-in ``pyspark.sql.functions`` expressions
(JVM-side, whole-stage codegen) — no Python UDFs. Each function takes and
returns Columns so it composes into any DataFrame plan and scales linearly
with no shuffle of its own.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword list for quality scoring (public domain list subset).
STOPWORDS = (
    "the a an and or but if then else of in on at to for with by from as is "
    "are was were be been it this that these those not no"
).split()


def _str_array_expr(words) -> Column:
    """array<string> literal as ONE parsed SQL expression — the
    per-word F.lit loop costs a py4j round trip per element on every
    query build (the HyperBall-lane fix applied to literals).

    The SQL form is used only when every word is printable and holds no
    quote or backslash: such a word reads the same inside ``'...'``
    whatever ``spark.sql.parser.escapedStringLiterals`` says. Any other
    word list falls back to exact per-element Column literals."""
    if any(not w.isprintable() or "'" in w or "\\" in w for w in words):
        return F.array(*[F.lit(w) for w in words])
    return F.expr("array(" + ", ".join(f"'{w}'" for w in words) + ")")


def tokens(text: Column) -> Column:
    """Whitespace tokenization: array of non-empty tokens."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def regex_token_count(text: Column) -> Column:
    """BPE-ish token counting: runs of letters, runs of digits, or single
    non-space symbols — a cheap proxy for subword token counts."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def char_count(text: Column) -> Column:
    return F.length(text)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of n-word shingles (the unit for n-gram Jaccard / MinHash).

    Built as a zip of n shifted array slices rather than per-index
    ``element_at`` lookups — both are interpreted HOFs, but the slice form
    does bulk array copies (measured ~7× faster at 260k shingles).
    """
    toks = tokens(text)
    count = F.size(toks) - F.lit(n - 1)
    zipped = F.arrays_zip(*[F.slice(toks, k + 1, count) for k in range(n)])
    joined = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])
    )
    return F.when(F.size(toks) >= n, joined).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are stopwords — a classic quality signal."""
    toks = tokens(F.lower(text))
    sw = _str_array_expr(STOPWORDS)
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return n_sw / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars."""
    n_punct = F.length(F.regexp_replace(text, r"[^\p{Punct}]", ""))
    return n_punct / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] doc-quality score: favors moderate length, low
    punctuation density, presence of stopwords (prose-likeness)."""
    length_term = F.least(char_count(text) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    sw_term = F.least(stopword_ratio(text) * 3, F.lit(1.0))
    return (length_term + punct_term + sw_term) / F.lit(3.0)


def fingerprint(text: Column, window: int = 8) -> Column:
    """Rolling-hash document fingerprint: min xxhash64 over token windows
    (winnowing-lite). Stable, order-sensitive digest for near-dup triage."""
    sh = word_shingles(text, n=window)
    return F.array_min(F.transform(sh, lambda s: F.xxhash64(s)))


# ------------------------------------------------------------- language ID

# Tiny per-language character/diacritic profiles. A real deployment would load
# trained trigram profiles; the heuristic layer (score per language, argmax)
# is the same shape and stays fully JVM-side.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is "],
    "de": ["ä", "ö", "ü", "ß", " der ", " und ", " ist "],
    "fr": ["é", "è", "ê", " le ", " la ", " est "],
    "es": ["ñ", "¿", "¡", " el ", " los ", " es "],
    "zh": ["的", "是", "了"],
}


def lang_id(text: Column) -> Column:
    """Heuristic language ID: per-language marker hit count, argmax, with
    'und' (undetermined) when nothing matches."""
    t = F.concat(F.lit(" "), F.lower(text), F.lit(" "))

    def score(markers: list[str]) -> Column:
        hits = [
            (F.length(t) - F.length(F.replace(t, F.lit(m), F.lit("")))) / F.lit(len(m))
            for m in markers
        ]
        total = hits[0]
        for h in hits[1:]:
            total = total + h
        return total

    scored = F.array(
        *[
            F.struct(score(m).alias("score"), F.lit(lang).alias("lang"))
            for lang, m in _LANG_MARKERS.items()
        ]
    )
    best = F.array_max(scored)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


# ------------------------------------------- Gopher quality rules (public)

# Published heuristic filter set from the Gopher paper (Rae et al. 2021,
# "Scaling Language Models: Methods, Analysis & Insights from Training
# Gopher", arXiv:2112.11446, Appendix A1.1), the de-facto baseline rule
# set for web-corpus cleaning (reused by MassiveText/RefinedWeb/Dolma).
# Every signal below is a pure JVM array/string expression — map-side,
# zero shuffle, whole-stage codegen.

#: ≥2 distinct of these must appear as tokens (Gopher's "stop word" rule).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: rule thresholds (signal, low, high) — Gopher A1.1 defaults.
GOPHER_RULES: dict[str, tuple[float | int | None, float | int | None]] = {
    "word_count": (50, 100_000),
    "mean_word_length": (3.0, 10.0),
    "symbol_word_ratio": (None, 0.1),
    "bullet_line_frac": (None, 0.9),
    "ellipsis_line_frac": (None, 0.3),
    "alpha_word_frac": (0.8, None),
    "distinct_stopwords": (2, None),
    "dup_line_frac": (None, 0.3),
    "dup_para_frac": (None, 0.3),
}


def _occurrences(text: Column, needle: str) -> Column:
    return (
        F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))
    ) / F.lit(len(needle))


def gopher_signals(text: Column) -> Column:
    """Struct of the nine Gopher A1.1 quality signals for one document.

    Line/paragraph structure comes from '\\n' / '\\n\\n' splits; duplicate
    fractions are by count (1 - distinct/total). Fractions are rounded to
    6 places so the struct is bit-stable across engines (the DuckDB oracle
    reproduces every field)."""
    words = F.split(text, r"\s+")
    words = F.filter(words, lambda w: w != F.lit(""))
    n_words = F.size(words)
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    lines = F.split(text, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    paras = F.split(text, "\n\n")
    n_paras = F.greatest(F.size(paras), F.lit(1)).cast("double")
    mean_wl = (
        F.length(F.regexp_replace(text, r"\s+", "")).cast("double") / safe_words
    )
    symbols = _occurrences(text, "#") + _occurrences(text, "...")
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    ).cast("double")
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    ).cast("double")
    alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("double")
    sw = _str_array_expr(GOPHER_STOPWORDS)
    distinct_sw = F.size(F.array_intersect(F.transform(words, F.lower), sw))
    dup_line = F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n_lines
    dup_para = F.lit(1.0) - F.size(F.array_distinct(paras)).cast("double") / n_paras
    r6 = lambda c: F.round(c, 6)
    return F.struct(
        n_words.cast("long").alias("word_count"),
        r6(mean_wl).alias("mean_word_length"),
        r6(symbols / safe_words).alias("symbol_word_ratio"),
        r6(bullet_lines / n_lines).alias("bullet_line_frac"),
        r6(ellipsis_lines / n_lines).alias("ellipsis_line_frac"),
        r6(alpha_words / safe_words).alias("alpha_word_frac"),
        distinct_sw.cast("int").alias("distinct_stopwords"),
        r6(dup_line).alias("dup_line_frac"),
        r6(dup_para).alias("dup_para_frac"),
    )


def gopher_keep(signals: Column, rules: dict | None = None) -> Column:
    """True iff every rule bound holds for the signal struct. ``rules``
    overrides individual GOPHER_RULES entries (same (low, high) shape) —
    corpora with different token statistics tune bounds without forking
    the signal computation."""
    merged = {**GOPHER_RULES, **(rules or {})}
    conds = []
    for name, (lo, hi) in merged.items():
        col = signals[name]
        if lo is not None:
            conds.append(col >= F.lit(lo))
        if hi is not None:
            conds.append(col <= F.lit(hi))
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def blocklist_signals(
    text: Column, terms: list[str], case_insensitive: bool = True
) -> Column:
    """Token-level blocklist hits — the wordlist-filter stage every web
    corpus runs (NSFW/spam lists a la C4's "List of Dirty, Naughty ...").
    Returns a struct ``(n_blocked_hits, n_blocked_terms)``: total matching
    token occurrences and distinct blocklist terms matched. Whole-token
    matching only (no substring false positives: "class" never trips
    "ass"); multi-word phrases are not matched — split them into their
    tokens or pre-normalize upstream.

    Pure map-side expression: the term list is embedded as a literal array
    (fine into the thousands of terms — it broadcasts with the plan, no
    join, no shuffle). Dedup/normalize the list before passing it in.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    norm = [t.lower() for t in terms] if case_insensitive else list(terms)
    if len(set(norm)) != len(norm):
        raise ValueError("terms contain duplicates after normalization")
    toks = F.split(text, r"\s+")
    if case_insensitive:
        toks = F.transform(toks, F.lower)
    arr = F.array(*[F.lit(t) for t in norm])
    hits = F.filter(toks, lambda t: F.array_contains(arr, t))
    return F.struct(
        F.size(hits).cast("int").alias("n_blocked_hits"),
        F.size(F.array_distinct(hits)).cast("int").alias("n_blocked_terms"),
    )


def strip_markup(text: Column) -> Column:
    """HTML/XML markup removal — the first cleaning step for any
    web-crawled corpus (raw HTML → text before C4/CCNet/Gopher gates run;
    the reference pipeline has no web leg, so this extends the text
    family the same way `gopher_signals` does).

    Three fixed stages, in an order that is part of the contract (the
    DuckDB oracle replays it verbatim):

    1. every ``<...>`` tag (including attributes and self-closing tags)
       is replaced by a single space — replacing with a space, not '',
       keeps words from fusing across ``</p><p>`` boundaries;
    2. the six common entities are decoded, ``&amp;`` deliberately LAST
       so ``&amp;lt;`` decodes to the literal text ``&lt;`` and never
       double-decodes into a ``<`` (the classic entity-order bug);
    3. whitespace runs collapse to one space and the result is trimmed.

    Pure map-side regexp/replace expressions — zero shuffle, no UDF.
    Script/style element CONTENT is out of scope for a regex pass (needs
    an HTML parser); tags themselves are still removed.
    """
    no_tags = F.regexp_replace(text, r"<[^>]*>", " ")
    ents = [
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # must stay last: see docstring
    ]
    out = no_tags
    for src, dst in ents:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def sentence_count(text: Column) -> Column:
    """Number of sentences, heuristically: runs of ``[.!?]`` acting as
    terminators; a document with text but no terminator counts as one
    sentence (so ratios below never divide by zero on prose fragments)."""
    terms = F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0))
    has_text = F.length(F.trim(text)) > 0
    return F.when(~has_text, F.lit(0)).otherwise(F.greatest(terms, F.lit(1)))


def syllable_count(text: Column) -> Column:
    """Heuristic English syllable count: vowel-group runs
    (``[aeiouyAEIOUY]+``) across the document — the standard cheap proxy
    (each vowel cluster ≈ one syllable; the Flesch formulas were tuned
    against counts of exactly this kind)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[aeiouyAEIOUY]+"), 0))


def flesch_reading_ease(text: Column) -> Column:
    """Flesch Reading Ease (Flesch 1948): 206.835 − 1.015·(words/sentence)
    − 84.6·(syllables/word). Higher = simpler prose (60–70 ≈ plain
    English); strongly negative values flag non-prose (code, tables,
    enumerations) — a quality-filter signal orthogonal to
    ``quality_score``'s stopword/punctuation mix. NULL on empty docs
    (no words to score). Pure JVM regexp counts — map-side, zero
    shuffle, and every regex is RE2-safe for the SQL oracle."""
    n_words = token_count(text)
    n_sents = sentence_count(text)
    n_syll = syllable_count(text)
    return F.when(
        n_words > 0,
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents)
        - F.lit(84.6) * (n_syll.cast("double") / n_words),
    )


#: PII detector regexes — deliberately RE2-safe (no lookaround, no
#: backrefs) so the DuckDB oracles replay them verbatim. Word-ish
#: boundaries are spelled with explicit character classes.
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld — conservative: no quoted locals, no IP domains
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # international-ish phone: optional +CC, separators, 7-14 digits total
    "phone": r"\+?[0-9][0-9()\-. ]{6,16}[0-9]",
    # dotted-quad with 1-3 digit octets (range check beyond regex scope)
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_counts(text: Column) -> Column:
    """Struct of per-type PII match counts (email, phone, ipv4) — the
    detection half of the corpus governance pass (CCNet/Dolma-style
    scrubbing pipelines detect exactly these classes before release).
    Pure JVM regexp counts: map-side, zero shuffle. Counts are signals,
    not proofs — the phone/ipv4 patterns trade precision for recall the
    way every release-gate detector does (flag, then audit)."""
    return F.struct(
        *[
            F.size(F.regexp_extract_all(text, F.lit(p), 0)).alias(name)
            for name, p in PII_PATTERNS.items()
        ]
    )


def redact_pii(text: Column) -> Column:
    """Redaction half: replace every PII match with ``<TYPE>`` tags.
    Order is most-specific first — email, then ipv4, then phone — because
    the classes overlap textually (an email's local part carries digits,
    a dotted quad matches the loose phone separator class); earlier
    redactions remove their text before looser patterns can shred it.
    Same regexes as :func:`pii_counts` (which counts each class
    independently, overlaps included)."""
    out = text
    for name in ("email", "ipv4", "phone"):
        out = F.regexp_replace(
            out, PII_PATTERNS[name], f"<{name.upper()}>"
        )
    return out
