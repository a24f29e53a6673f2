"""Changeset hashtag + editor derivation (SURVEY.md A10/A11).

Semantics per the reference (``osm-changesets/.../ChangesetHashtags.java:19-34``,
itself following the iD editor's commit-UI rules):

- scan the ``hashtags`` then ``comment`` tag values;
- strip anything that looks like a URL (``http\\S*``) first;
- match ``#`` followed by a run of chars excluding punctuation/whitespace
  classes;
- drop the leading ``#``; keep tags with length ≥ 2 that aren't all digits;
- distinct + sorted.

Editor = the changeset's ``created_by`` tag (``ChangesetDb.java:50``), read
by the J4 join (``operators.contributions.with_changesets``).

All native Spark expressions — regexp_extract_all/array ops, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The excluded char class is built from LITERAL codepoints (no \uXXXX escape
# syntax) so the exact same pattern string is valid in both Java regex
# (Spark) and RE2 (DuckDB oracles). Java \v (vertical ws) and \h (horizontal
# ws) are spelled out.
_PUNCT = "\\'!\"#$%()*,./:;<=>?@[]^`{|}~"
_EXCLUDED = (
    "\u2000-\u206f\u2e00-\u2e7f"
    "\n\x0b\f\r\x85\u2028\u2029"  # \v
    " \t\xa0\u1680\u180e"  # \h (U+2000–200A covered by the first range)
    + "".join("\\" + c for c in _PUNCT)
)
HASHTAG_RE = f"#[^{_EXCLUDED}]+"
URL_RE = r"http\S*"


def hashtags_expr(*fields: Column) -> Column:
    """Distinct sorted hashtags from one or more free-text Columns."""
    per_field = [
        F.regexp_extract_all(F.regexp_replace(f, URL_RE, ""), F.lit(HASHTAG_RE), 0)
        for f in fields
    ]
    allt = per_field[0]
    for p in per_field[1:]:
        allt = F.concat(allt, p)
    cleaned = F.transform(allt, lambda t: F.substring(t, 2, 1_000_000))
    kept = F.filter(cleaned, lambda t: (F.length(t) >= 2) & ~t.rlike("^[0-9]+$"))
    return F.array_sort(F.array_distinct(kept))


def hashtags_from_tags_expr(tags: Column) -> Column:
    """Reference entry point: derive from tags['hashtags'] + tags['comment']."""
    return hashtags_expr(
        F.coalesce(tags.getItem("hashtags"), F.lit("")),
        F.coalesce(tags.getItem("comment"), F.lit("")),
    )
