"""Text-analysis column functions (north-star extension; SURVEY.md §7
Phase 4). Tokenization, quality scoring, language ID and fingerprinting
are JVM built-in expressions that run inside whole-stage codegen, so
they scale to 100 TB of `documents` like any other projection.

The exceptions are the Arrow twins :func:`quality_score_arrow` and
:func:`language_id_arrow`: pandas UDFs, so their rows cross into a
Python worker in batches. The registered quality and language-ID
queries use them because one vectorized Python pass beat the
interpreted higher-order-function chains of their JVM twins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small: language ID here is a scoring heuristic
#: (like fastText's shortlist), not a model.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "fr": ("le", "la", "de", "et", "un", "une", "les", "des", "que", "pour"),
    "de": ("der", "die", "das", "und", "ein", "eine", "zu", "von", "mit", "ist"),
}

#: BPE-ish word/punctuation split: runs of word chars OR single
#: non-space-non-word chars, approximating a byte-pair pre-tokenizer.
BPE_TOKEN_PATTERN = r"\\w+|[^\\w\\s]"


def _col(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize(col: str | Column) -> Column:
    """Canonical text form: lowercase, strip punctuation, collapse
    whitespace. The shared first step for dedup/fingerprinting."""
    c = F.lower(_col(col))
    c = F.regexp_replace(c, r"[^\w\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(F.trim(_col(col)), r"\s+")


def bpe_tokens(col: str | Column) -> Column:
    """BPE-ish regex tokenization (words + individual punctuation)."""
    return F.expr(f"regexp_extract_all({_sql_ref(col)}, '{BPE_TOKEN_PATTERN}', 0)")


def _sql_ref(col: str | Column) -> str:
    if isinstance(col, str):
        return col
    raise TypeError("bpe_tokens requires a column *name* (SQL expression building)")


def token_count(col: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def char_count(col: str | Column) -> Column:
    return F.length(_col(col))


def punct_ratio(col: str | Column) -> Column:
    """Fraction of characters that are punctuation (quality signal)."""
    c = _col(col)
    punct = F.length(F.regexp_replace(c, r"[\w\s]", ""))
    return punct / F.greatest(F.length(c), F.lit(1))


def stopword_ratio(col: str | Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang`` (quality signal:
    natural prose has a stable stopword ratio; boilerplate/code does not).
    """
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    toks = tokens(F.lower(_col(col)))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def mean_token_length(col: str | Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: str | Column) -> Column:
    """Composite [0,1] quality score: length sweet-spot, low punctuation,
    healthy stopword ratio, sane mean token length. Weights are the usual
    heuristic-filter shape (Gopher/C4-style rules re-expressed as one
    soft score)."""
    c = _col(col)
    n = F.length(c)
    len_ok = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(
        F.when(n < 50, n / F.lit(50.0)).otherwise(F.lit(20000.0) / n)
    )
    punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
    stop = stopword_ratio(c)
    stop_ok = F.when(stop >= 0.05, F.lit(1.0)).otherwise(stop / F.lit(0.05))
    mtl = mean_token_length(c)
    mtl_ok = F.when((mtl >= 2.5) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.4))
    return F.round(
        len_ok * 0.3 + punct_ok * 0.2 + stop_ok * 0.3 + mtl_ok * 0.2, 6
    )


def quality_score_arrow(col: str | Column = "text") -> Column:
    """Arrow-vectorized twin of :func:`quality_score` — identical values,
    one Python pass per batch instead of the interpreted stopword-filter
    / token-aggregate HOF chain (guide §4.2; same exactness conventions
    as ``plans/training_plans.py::repetition_metrics_arrow``):

    - ``length()`` counts codepoints → Python ``len``;
    - Spark ``trim`` strips ASCII spaces only → ``strip(' ')``; Java
      regex ``\\w``/``\\s`` are the ASCII classes → ``re.ASCII``;
    - every division and the 0.3/0.2/0.3/0.2 weighted sum run the same
      IEEE-double chain left-to-right (token lengths are small integers,
      so the double accumulation is exact in any order);
    - ``round(x, 6)`` replays Spark's Round on DoubleType
      (``BigDecimal.valueOf`` = shortest-round-trip decimal, HALF_UP) via
      ``Decimal(repr(x)).quantize``.

    Takes the text column like :func:`quality_score` (defaults to
    ``text``). Bit-for-bit parity with the expression twin is asserted
    at three fixture scales in tests/test_quality.py."""
    import re as _re
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    ws = _re.compile(r"\s+", _re.ASCII)
    non_punct = _re.compile(r"[\w\s]", _re.ASCII)
    stop = frozenset(STOPWORDS["en"])
    q6 = Decimal("0.000001")

    def _score(s):
        if s is None:
            return None
        n = len(s)
        len_ok = 1.0 if 50 <= n <= 20000 else (n / 50.0 if n < 50 else 20000.0 / n)
        punct = len(non_punct.sub("", s)) / max(n, 1)
        punct_ok = 1.0 - min(punct * 4, 1.0)
        lo = ws.split(s.lower().strip(" "))
        sr = sum(1 for t in lo if t in stop) / max(len(lo), 1)
        stop_ok = 1.0 if sr >= 0.05 else sr / 0.05
        toks = ws.split(s.strip(" "))
        mtl = float(sum(len(t) for t in toks)) / max(len(toks), 1)
        mtl_ok = 1.0 if 2.5 <= mtl <= 12.0 else 0.4
        q = len_ok * 0.3 + punct_ok * 0.2 + stop_ok * 0.3 + mtl_ok * 0.2
        return float(Decimal(repr(q)).quantize(q6, rounding=ROUND_HALF_UP))

    # hint-free: `from __future__ import annotations` stringifies hints
    # and pyspark cannot resolve the local `pd` name at decoration time
    def score(texts):
        return pd.Series([_score(s) for s in texts], dtype="float64")

    return F.pandas_udf(score, "double")(_col(col))


def language_id_arrow(col: str | Column = "text") -> Column:
    """Heuristic language ID: stopword hits per language, argmax (ties →
    lexicographically first language; 'und' when nothing hits). One
    Python pass per batch instead of 4× interpreted
    filter/array_contains HOF chains (guide §4.2; same exactness
    conventions as :func:`quality_score_arrow`):

    - Spark ``trim`` strips ASCII spaces only → ``strip(' ')``; Java
      regex ``\\s`` is the ASCII class → ``re.ASCII``;
    - stopword hits count every matching token (not distinct), exactly
      like ``size(filter(...))``;
    - argmax tie-break: first language in sorted order wins (the
      expression's when-cascade evaluates sorted languages outermost
      first), zero hits everywhere → ``'und'``; NULL text → ``'und'``
      (``size(NULL)=NULL`` makes every when-condition NULL, so the
      cascade falls through to the literal default).

    Bit-for-bit parity with the expression twin (kept in
    tests/test_quality.py as the oracle) is asserted on adversarial docs
    + the fixture corpus."""
    import re as _re

    import pandas as pd

    ws = _re.compile(r"\s+", _re.ASCII)
    langs = [(lang, frozenset(STOPWORDS[lang])) for lang in sorted(STOPWORDS)]

    def _lid(s):
        if s is None:
            return "und"
        toks = ws.split(s.lower().strip(" "))
        best, best_lang = 0, "und"
        for lang, stop in langs:
            h = sum(1 for t in toks if t in stop)
            if h > best:
                best, best_lang = h, lang
        return best_lang

    # hint-free: `from __future__ import annotations` stringifies hints
    # and pyspark cannot resolve the local `pd` name at decoration time
    def lid(texts):
        return pd.Series([_lid(s) for s in texts], dtype="object")

    return F.pandas_udf(lid, "string")(_col(col))


def fingerprint(col: str | Column) -> Column:
    """Document fingerprint: md5 of the normalized text. md5 (not
    xxhash64) so the DuckDB oracle computes bit-identical values."""
    return F.md5(normalize(col))


def portable_hash60(col: str | Column) -> Column:
    """Engine-portable 60-bit string hash: the first 15 hex digits of
    md5 as a long (< 2^60, ANSI-safe headroom for modular arithmetic).
    Bit-identical in DuckDB (``CAST('0x'||substr(md5(x),1,15) AS
    BIGINT)``) and Python (``int(md5(x).hexdigest()[:15], 16)``) — the
    hash family that makes MinHash/SimHash value-checkable against a SQL
    oracle instead of rows-only (xxhash64 has no cross-engine twin)."""
    return F.conv(F.substring(F.md5(_col(col)), 1, 15), 16, 10).cast("long")


def _let(bound_expr, body):
    """Catalyst let-binding idiom: evaluate ``bound_expr`` exactly once
    per row and feed the value to ``body``. ``transform`` binds its
    lambda variable to the evaluated element, so wrapping the expression
    in a 1-element array gives sharing that survives CollapseProject —
    without it, downstream projections inline (and re-execute) the whole
    subtree at every use site."""
    return F.transform(F.array(bound_expr), body)[0]


def shingles(col: str | Column, k: int = 5) -> Column:
    """Word k-shingles of the normalized text → array<string>; the input
    unit for MinHash/Jaccard dedup. Documents shorter than ``k`` words
    yield a single shingle of the whole text. The token array is bound
    once with :func:`_let`: inlined, the per-position lambda would redo
    the regex normalization of the whole text at every position, which
    made shingling quadratic in the document length."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n <= k, F.array(F.array_join(toks, " "))).otherwise(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
        )

    return _let(F.split(normalize(col), " "), body)
