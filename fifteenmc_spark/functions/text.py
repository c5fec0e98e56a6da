"""Text-analysis column expressions for the training-data pipeline surface.

All pure Column expressions (JVM-side).  Regexes are kept in the common
subset of Java regex (Spark) and RE2 (DuckDB oracle) so the same pattern
string can appear in oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PUNCT_RE = "[^a-zA-Z0-9 ]"
# translate() complement of PUNCT_RE: length(translate(col, ALNUM_SPACE,
# "")) counts exactly the chars PUNCT_RE matches (every char NOT in this
# 63-char set), without the regex engine or the replaced-string build —
# measured 0.56 s vs 1.43 s for the regexp_replace form over the 10x
# synth corpus (r15 p1 constant attack; exact value parity asserted on
# the corpus and by the DuckDB oracle, whose SQL keeps the regex form)
ALNUM_SPACE = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "
)

# Java's \s is exactly [ \t\n\x0B\f\r]; RE2's \s omits \x0B (vertical
# tab), so a document containing \x0B silently diverged token splits and
# t11's pre-token counts between the Spark plan and the DuckDB oracle
# (r12 ADVICE).  Every tokenization/normalization regex — here AND in the
# oracle SQL strings — spells the class out so the two engines share ONE
# character set.  The explicit class equals Java's \s, so Spark-side
# semantics (and every golden md5/fingerprint derived from them) are
# unchanged; only the oracle side gains \x0B.
WS_CHARS = " \\t\\n\\x0B\\f\\r"
TOKEN_SPLIT_RE = f"[{WS_CHARS}]+"


def tokens(col) -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(F.trim(col), TOKEN_SPLIT_RE)


def token_count(col) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, TOKEN_SPLIT_RE)))


def punct_ratio(col) -> Column:
    """Fraction of characters that are not [a-zA-Z0-9 ]."""
    n = F.length(col).cast("double")
    punct = F.length(F.translate(col, ALNUM_SPACE, "")).cast("double")
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def mean_token_len(col) -> Column:
    """Mean token length = (chars excluding whitespace) / token count."""
    nchars = F.length(F.regexp_replace(col, "[ \\t\\n\\x0B\\f\\r]", "")).cast("double")
    ntok = token_count(col).cast("double")
    return F.when(ntok > 0, nchars / ntok).otherwise(F.lit(0.0))


def quality_score(col) -> Column:
    """Composite heuristic quality score in [0,1]:
    rewards moderate length, low punctuation noise, plausible token length.
    Deterministic and oracle-expressible (pure arithmetic)."""
    n = F.length(col).cast("double")
    len_score = F.least(n / F.lit(200.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    tl = mean_token_len(col)
    tok_score = F.when((tl >= 2.0) & (tl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return (len_score + punct_score + tok_score) / F.lit(3.0)


def fingerprint64(col) -> Column:
    """Document fingerprint: xxhash64 of normalized text (lower, collapse
    whitespace).  Used for exact-dup detection at scale; one 8-byte key per
    doc instead of shipping full text through the shuffle."""
    norm = F.regexp_replace(F.lower(F.trim(col)), "[ \\t\\n\\x0B\\f\\r]+", " ")
    return F.xxhash64(norm)


def split_bucket(doc_id, salt: str = "", mod: int = 100) -> Column:
    """THE canonical doc-id bucket in 0..mod-1: first 8 hex chars of
    md5(doc_id as string || salt) mod `mod`.  Shared by p2 (split
    assignment, no salt, mod 100), x8 (eval decontamination, no salt —
    must agree with p2 on membership), p4 (data-mixing sample, ':mix'
    salt — same family, different preimage, so sampling is independent
    of the split), and p8 (domain mixing, ':domainmix' salt, mod 10^6 —
    ppm resolution because its keep-rates are DERIVED quantities, not
    round percentages).  One arithmetic chain: any portability fix
    applies everywhere at once.  Matches the oracle SQL spelling
    exactly."""
    key = doc_id.cast("string")
    if salt:
        key = F.concat(key, F.lit(salt))
    return (
        F.conv(F.substring(F.md5(key.cast("binary")), 1, 8), 16, 10).cast("bigint") % mod
    )
