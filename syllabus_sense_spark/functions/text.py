"""Text-analysis column functions — pure built-in expressions, usable
inside any query without leaving whole-stage codegen.

``tokens`` is the one tokenizer: every query that splits text into
words calls it, except ``array_higher_order_fns``, whose job is to show
a filter lambda. The rest are [EXT] capabilities from BASELINE.json:
language-ID (n-gram heuristic), quality scoring and token counting.
All return Columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Character n-gram cues per language — a toy trigram table in the
# spirit of real n-gram language ID (the harness corpus carries its
# own lang label; this heuristic demonstrates the operator shape).
_LANG_CUES = {
    "en": ("the", "and", "ing"),
    "es": ("los", "ado", "cio"),
    "de": ("der", "sch", "ung"),
    "fr": ("les", "ent", "ion"),
    "zh": ("zh_", "shi", "de_"),
}


def tokens(text: Column | str, sep: str = " ") -> Column:
    """The non-empty pieces of ``text`` split on the regex ``sep``, in
    order; NULL for a NULL ``text``. Equal to
    ``F.filter(F.split(text, sep), lambda t: F.length(t) > 0)`` —
    ``split`` never yields a NULL element, so dropping ``""`` keeps
    exactly the pieces of positive length — but cheaper:
    ``array_remove`` is one native pass, with no lambda variable bound
    per element."""
    return F.array_remove(F.split(text, sep), "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (BPE-ish subword estimate = chars/4 is
    ``F.length(text) / 4`` — callers pick)."""
    return F.size(tokens(text, r"\s+"))


def space_token_count(text: Column) -> Column:
    """Count of the non-empty tokens of ``text`` split on single
    spaces; NULL for a NULL ``text``."""
    return F.size(tokens(text))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality: penalizes very short docs, low lexical
    diversity, and extreme token lengths. Deterministic arithmetic."""
    toks = tokens(text, r"\s+")
    n = F.size(toks).cast("double")
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.greatest(n, F.lit(1.0))
    length_ok = F.least(n / F.lit(50.0), F.lit(1.0))
    avg_tok = F.length(F.regexp_replace(text, r"\s+", "")).cast("double") / F.greatest(
        n, F.lit(1.0)
    )
    tok_ok = F.when((avg_tok >= 2) & (avg_tok <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return (diversity * 0.4 + length_ok * 0.4 + tok_ok * 0.2).alias("quality_score")


def lang_id_heuristic(text: Column) -> Column:
    """N-gram-cue language guess: counts cue-trigram hits per language
    and returns the argmax (ties → lexicographically first lang).
    Pure expression: a map over a literal cue table, no UDF.

    The argmax is the CASE-vs-greatest chain (the DuckDB oracle's own
    shape): lang_i wins iff its score >= greatest(all later scores) —
    '>=' with languages in sorted order gives the first language the
    tie, identical to the old best-so-far fold. The fold form nested
    each comparison's loser branches inside the next round's `when`,
    so every score's 3-replace subtree re-appeared once per LATER
    language — an exponentially growing expression the codegen CSE
    cannot fully collapse (measured ~2.4 s of the query's sf1 cost).
    Here each score expression occurs at most twice and runtime
    subexpression elimination sees matching trees.

    NULL text returns the ``'und'`` sentinel (public contract). The
    CASE chain alone would let NULL fall through every NULL-valued
    ``>=`` comparison to the base case ('zh', the last sorted lang) —
    the round-11 advisor flagged exactly that silent behavior change
    vs the old fold, so the sentinel is restored as an explicit outer
    guard, mirrored in the DuckDB oracle.
    """
    lowered = F.lower(text)
    scores = [
        (
            lang,
            sum(
                (F.length(lowered) - F.length(F.replace(lowered, F.lit(cue), F.lit(""))))
                / len(cue)
                for cue in cues
            ),
        )
        for lang, cues in sorted(_LANG_CUES.items())
    ]
    best = F.lit(scores[-1][0])
    for i in range(len(scores) - 2, -1, -1):
        lang, score = scores[i]
        later = [s for _, s in scores[i + 1 :]]
        bound = later[0] if len(later) == 1 else F.greatest(*later)
        best = F.when(score >= bound, F.lit(lang)).otherwise(best)
    return F.when(text.isNull(), F.lit("und")).otherwise(best)
