"""String/scalar operator family (SURVEY.md §2.7 F1-F10).

Ports the reference's *semantics* — exact boundary-character classes,
normalization chains, prompt templates — as Spark Column expressions
(JVM-side, whole-stage-codegen friendly; no Python in the hot path).

Reference citations:
- boundary chars before/after a word: /root/reference/llm_interface.py:16-21 (F1)
- prompt template: /root/reference/entity_classifier.py:1-5 (F5)
- answer-item parsing chain: /root/reference/pocs/poc_fewnerd_extraction.py:14-27 (F6)
- normalization: poc_fewnerd_extraction.py:15-27, entity_classifier.py:3 (F7)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_BEFORE_CLASS = r"""[ (\[{'"]"""
_AFTER_CLASS = r"""[ .,!?:;)\]}'"]"""


def word_boundary_regex(word_pattern: str) -> str:
    """F1 as a regex: `word` must be preceded by a boundary char (or SOS) and
    followed by one (or EOS) — the exact predicate of llm_interface.py:13-39."""
    return f"(?:^|(?<={_BEFORE_CLASS}))(?:{word_pattern})(?:$|(?={_AFTER_CLASS}))"


def classification_prompt(entity_type: Column, entity_text: Column, sentence: Column) -> Column:
    """F5 — entity_classifier.py:1-5 (underscore->space, strip backticks+trim)."""
    etype = F.regexp_replace(entity_type, "_", " ")
    etext = F.trim(F.regexp_replace(entity_text, "`", ""))
    return F.format_string(
        "In the following sentence, specify if the word or word phrase '%s' "
        "represent a %s: %s Please answer 'yes' or 'no'.",
        etext, etype, sentence,
    )


def parse_answer_item(col: Column) -> Column:
    """F6 — the exact replace/regex chain of poc_fewnerd_extraction.py:14-27."""
    x = F.regexp_replace(col, r"- ", "")
    x = F.regexp_replace(x, r"``", "")
    x = F.regexp_replace(x, r"''", "")
    x = F.regexp_replace(x, r'"', "")
    x = F.regexp_replace(x, r"  ", " ")
    x = F.regexp_replace(x, r"^\d+\.", "")
    return F.trim(x)


def normalize_surface(col: Column) -> Column:
    """F7 — canonicalization key #1: lowercase, strip backticks/quotes,
    trim edge punctuation, collapse whitespace (rules of
    poc_fewnerd_extraction.py:15-27 + entity_classifier.py:3)."""
    x = F.lower(col)
    x = F.regexp_replace(x, r"[`'\"]", "")
    x = F.regexp_replace(x, r"^[^a-z0-9]+|[^a-z0-9]+$", "")
    x = F.regexp_replace(x, r"\s+", " ")
    return x


def squash_key(col: Column) -> Column:
    """Canonicalization key #2: key #1 with separators removed — links
    `parse_config` to `parseconfig` (prefix-grouping analog of
    /root/reference/group_layers.py:38-50)."""
    return F.regexp_replace(normalize_surface(col), r"[_.\- ]", "")


# Python twins (used by driver-side union-find and the fixture generator;
# MUST stay in lockstep with the Column expressions above) -------------------

def norm_key(surface: str) -> str:
    """Python twin of :func:`normalize_surface`."""
    import re

    x = surface.lower()
    x = re.sub(r"[`'\"]", "", x)
    x = re.sub(r"^[^a-z0-9]+|[^a-z0-9]+$", "", x)
    x = re.sub(r"\s+", " ", x)
    return x


def squash(surface: str) -> str:
    """Python twin of :func:`squash_key`."""
    import re

    return re.sub(r"[_.\- ]", "", norm_key(surface))


# F2 — offset -> token-index mapping (SURVEY.md §2.7 F2) --------------------

def token_offsets(text_col: str) -> "object":
    """Whitespace tokenizer with exact char offsets as ONE array expression
    (reference: llm_interface.py:124-211 + llama3_tokenizer.py:56-79 map
    char spans to token indices via cumulative offsets).

    Prefix sums are built with a single `aggregate` fold over the token
    array (O(n) per row, JVM-side, NO shuffle — scale-safe at 10^12 rows),
    then zipped back: returns array<struct<token, char_start, char_end>>.
    An offset o maps to the token with char_start <= o < char_end.
    """
    from pyspark.sql import functions as F

    return F.expr(
        f"""
        zip_with(
          split({text_col}, ' '),
          slice(
            aggregate(
              split({text_col}, ' '),
              array(0),
              (acc, t) -> array_append(acc, element_at(acc, -1) + length(t) + 1)),
            1, size(split({text_col}, ' '))),
          (t, s) -> struct(t AS token,
                           CAST(s AS BIGINT) AS char_start,
                           CAST(s + length(t) AS BIGINT) AS char_end)
        )"""
    )
