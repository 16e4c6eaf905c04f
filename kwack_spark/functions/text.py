"""Text-analysis column expressions for large-scale training-data pipelines.

All pure built-in column expressions (JVM-side, codegen'd) — tokenization,
shingling, MinHash, SimHash, quality metrics, language-ID heuristics.  Hashes
use md5 (available and bit-identical in Spark and DuckDB, which keeps every
operator oracle-checkable).  At 100 TB these run embarrassingly parallel over
parquet partitions: no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny multilingual stopword sets for the language-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": (),  # no latin markers — falls through to 'und'
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def bind(col, body) -> Column:
    """Expression-level ``let``: evaluate ``col`` once per row and pass it to
    ``body`` as a lambda variable.

    Spark has no let-binding, and Catalyst's CollapseProject inlines a
    projected subexpression into every use site — so an expensive array
    (tokenize = regexp_replace+split+filter) referenced inside a per-element
    lambda gets recomputed O(len) times per row.  ``transform`` over a
    singleton array binds the evaluated value to a NamedLambdaVariable,
    making every reference in ``body`` a cheap variable read.  Measured 5-10x
    on shingle/simhash-heavy operators at sf0.1."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.transform(F.array(c), body), 1)


def normalize(col) -> Column:
    """Lowercase and strip everything but [a-z ] — the canonical form used by
    every dedup/fingerprint operator (must match the oracle's regex)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(c), "[^a-z ]", "")


def tokens(col) -> Column:
    """Whitespace tokens of the normalized text, empties removed."""
    return F.filter(F.split(normalize(col), " "), lambda t: F.length(t) > 0)


def token_set(col) -> Column:
    return F.array_distinct(tokens(col))


def shingles(tok_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles: ['a','b','c','d'] -> ['a b c','b c d'] (n=3).
    Built with sequence+transform+slice — no UDF, no explode.  The token
    array is bound once (see ``bind``); without it the tokenizer re-runs for
    every shingle index, O(tokens^2) regex work per row."""

    def mk(t: Column) -> Column:
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", t)))

    return bind(tok_col, mk)


def minhash_seed_slice(i: int) -> tuple[str, int]:
    """Hash-family member i -> (seed char, 1-based hex offset).  One md5
    yields FOUR independent 32-bit (8-hex) hash values by slicing its 32-hex
    output — 4x less hashing than one md5 per member, same family quality
    for MinHash purposes, and still reproducible in DuckDB."""
    return chr(ord("a") + i // 4), (i % 4) * 8 + 1


def simhash_bits(tok_col: Column, bits: int = 16) -> Column:
    """SimHash fingerprint as a bit-string: bit i is 1 iff the majority of
    tokens have the high bit of md5 nibble i set (nibble in 89abcdef).

    md5 runs ONCE per token (hashes array), not once per (token, bit) —
    the per-bit filters then only probe one hex position each; measured
    ~40% faster end-to-end than hashing inside each bit's filter."""
    def mk(toks: Column) -> Column:
        def with_hashes(hashes: Column) -> Column:
            n = F.size(toks)

            def bit(i: int) -> Column:
                set_count = F.size(
                    F.filter(
                        hashes,
                        lambda h: F.substring(h, i + 1, 1).isin(
                            "8", "9", "a", "b", "c", "d", "e", "f"
                        ),
                    )
                )
                return F.when(set_count * 2 >= n, F.lit("1")).otherwise(F.lit("0"))

            return F.concat(*[bit(i) for i in range(bits)])

        # bind the md5 array too: 16 bit-filters probe it, and without the
        # binding each filter re-hashes every token
        return bind(F.transform(toks, lambda t: F.md5(t)), with_hashes)

    return bind(tok_col, mk)


_HEX_HI = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash64(tok_col: Column) -> Column:
    """64-bit SimHash fingerprint as a LONG (the production Manku/Jain/Sarma
    WWW'07 width) — the fixed-width sibling of ``simhash_bits`` that swaps
    the bit-string for one 8-byte integer so downstream blocking slices are
    ``shiftright & mask`` and the Hamming verify is ONE ``bit_count(a ^ b)``
    instruction instead of 32-64 per-position substring compares.

    Per token the 64-nibble hash stream is ``md5('s0:'||t) || md5('s1:'||t)``
    (seed-prefixed so the two halves are independent; md5 is identical across
    engines -> oracle-checkable).  Bit i is set iff the majority of tokens
    have the high bit of nibble i set; the long is assembled from per-bit
    ``shiftleft`` terms (bit 63's term is the sign bit — JVM shiftleft wraps
    to -2^63, matching the oracle's -9223372036854775808 literal).  The md5
    stream is bound once per token (64 bit-filters probe it; without the
    binding each filter would re-hash every token)."""

    def mk(toks: Column) -> Column:
        # ONE counting pass over the tokens (aggregate + zip_with, loops
        # driven by data not by 64 unrolled array-filter expressions): the
        # unrolled form generated ~4 s of janino compilation per CALL —
        # lambda ids are fresh each invocation, so the codegen cache never
        # hits and every query paid the compile, dwarfing the 0.4 s compute
        def bit_vec(h: Column) -> Column:
            return F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: F.when(h.substr(i, F.lit(1)).isin(*_HEX_HI), 1).otherwise(
                    0
                ),
            )

        counts = F.aggregate(
            F.transform(
                toks,
                lambda t: F.concat(
                    F.md5(F.concat(F.lit("s0:"), t)),
                    F.md5(F.concat(F.lit("s1:"), t)),
                ),
            ),
            F.array_repeat(F.lit(0), 64),
            lambda acc, h: F.zip_with(acc, bit_vec(h), lambda a, b: a + b),
        )

        def with_counts(cs: Column) -> Column:
            n = F.size(toks)
            out = None
            for i in range(64):
                term = F.when(
                    cs[i] * 2 >= n, F.shiftleft(F.lit(1).cast("long"), i)
                ).otherwise(F.lit(0).cast("long"))
                out = term if out is None else out + term
            return out

        return bind(counts, with_counts)

    return bind(tok_col, mk)


def punct_ratio(col) -> Column:
    """Share of characters that are not [a-z ] after lowercasing."""
    c = F.col(col) if isinstance(col, str) else col
    lc = F.lower(c)
    return (F.length(lc) - F.length(F.regexp_replace(lc, "[^a-z ]", ""))) / F.length(lc)


def stopword_ratio(col) -> Column:
    def mk(toks: Column) -> Column:
        stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
        return stop / F.size(toks)

    return bind(tokens(col), mk)


def lang_id(col) -> Column:
    """N-gram/stopword heuristic language ID over the marker table.
    Deterministic argmax with fixed tie order (en,de,es,fr) -> 'und'.
    Token set bound once; each marker score is then a cheap array filter."""

    def mk(toks: Column) -> Column:
        def marker_score(markers: tuple[str, ...]) -> Column:
            # closure factory — a default-arg lambda would make F.filter pass
            # the element *index* as the second parameter
            return F.size(F.filter(toks, lambda t: t.isin(*markers)))

        scored = [
            (lang, marker_score(markers))
            for lang, markers in LANG_MARKERS.items()
            if markers
        ]
        best = scored[0][1]
        for _, score in scored[1:]:
            best = F.greatest(best, score)
        # argmax: first language (in declaration order) achieving the max
        result = F.lit("und")
        for lang, score in reversed(scored):
            result = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(
                result
            )
        return result

    return bind(token_set(col), mk)


# PII redaction patterns: a regex subset shared by Java regex (Spark) and
# RE2 (DuckDB) so redaction is oracle-checkable.  Order matters — dotted
# phone numbers would otherwise be eaten by the IPv4 pattern.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def redact_pii(col) -> Column:
    """Replace emails, phone numbers, and IPv4 addresses with typed tags —
    the standard scrub pass before text enters a training corpus.  Pure
    JVM-side regexp_replace chain: no shuffle, no Python, safe at 100 TB."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


# URL canonicalization: tracking query parameters dropped before the
# remaining params are sorted — the CommonCrawl-style dedup key (the same
# param lists crawl pipelines strip: UTM campaign tags, click ids).
# Case-insensitive ((?i)): servers treat UTM_SOURCE= and utm_source=
# identically, so the dedup key must too.  ``ref`` is deliberately NOT
# stripped — it is a functional parameter on real sites (?ref=<branch>
# selects content), and conflating it would merge distinct pages.
URL_TRACKING_PARAM_RE = r"(?i)^(utm_[a-z]+|fbclid|gclid|msclkid|_ga)="


def canonical_url(col) -> Column:
    """URL/domain-normalized dedup key — the canonicalization a crawl
    pipeline applies before exact-dedup on page identity, entirely in
    JVM-side regex/array functions (no UDF, no shuffle):

      - drop the fragment (#...)
      - drop the scheme (http/https/any RFC-3986 scheme, case-insensitive)
      - hostname: lowercase, strip leading ``www.``, strip default ports
        ``:80``/``:443`` (path/query case is preserved — only the host is
        case-insensitive per RFC 3986)
      - path: strip trailing slashes
      - query: drop tracking params (utm_*, fbclid, gclid, msclkid, _ga;
        matched case-insensitively — ``ref`` is kept, it selects content
        on real sites), sort the remainder byte-wise, rejoin with ``&``

    ``https://WWW.Ex.com:443/a/?b=2&a=1&utm_source=x#f`` ->
    ``ex.com/a?a=1&b=2``."""
    raw = F.trim(F.col(col) if isinstance(col, str) else col)
    stripped = F.regexp_replace(
        F.regexp_replace(raw, "#.*$", ""), "^[A-Za-z][A-Za-z0-9+.-]*://", ""
    )

    # bind the shared intermediates once (see ``bind``): without it,
    # CollapseProject re-inlines the trim+regexp chain into each of its
    # ~4 use sites (q, rest, host, path), multiplying the per-row regex
    # work of what should be the cheapest first-stage dedup pass
    def with_u(u: Column) -> Column:
        q = F.when(
            u.contains("?"), F.regexp_replace(u, r"^[^?]*\?", "")
        ).otherwise(F.lit(""))

        def with_rest(rest: Column) -> Column:
            host = F.regexp_replace(
                F.regexp_replace(
                    F.lower(F.regexp_extract(rest, "^([^/]*)", 1)), r"^www\.", ""
                ),
                ":(80|443)$",
                "",
            )
            path = F.regexp_replace(
                F.regexp_replace(rest, "^[^/]*", ""), "/+$", ""
            )

            def with_q(qv: Column) -> Column:
                params = F.filter(
                    F.split(qv, "&"),
                    lambda p: (F.length(p) > 0)
                    & ~p.rlike(URL_TRACKING_PARAM_RE),
                )
                qs = F.array_join(F.sort_array(params), "&")
                return F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(
                    F.lit("")
                )

            return F.concat(host, path, bind(q, with_q))

        return bind(F.regexp_replace(u, r"\?.*$", ""), with_rest)

    return bind(stripped, with_u)
