"""Output checks: compare the rows ``job.main`` wrote with what the generator
promised, and count every document that came out wrong.

An expectation is a dict keyed by url. Its ``kind`` says which rule holds:

- ``"template"``: ok, and title/byline/excerpt/published/text equal the
  ``ORACLE_*`` closed forms exactly; ``content_html`` kept when ``html`` is
  true;
- ``"article"``: ok, every ``article`` sentinel in the text, no ``boiler``
  sentinel in it;
- ``"not_readerable"``: not ok with ``err == "not_readerable"``.
"""

from __future__ import annotations

import collections
from dataclasses import dataclass

TEMPLATE_FIELDS = ("title", "byline", "excerpt", "published", "text")
MAX_EXAMPLES = 10


@dataclass
class Failures:
    """Per-call failure counts; ``total`` feeds ``docs_failed_frac``."""

    wrong: int = 0
    missing: int = 0
    duplicated: int = 0
    errors: int = 0
    # urls the program got wrong, for the report (capped)
    examples: tuple = ()

    @property
    def total(self) -> int:
        return self.wrong + self.missing + self.duplicated + self.errors


def _row_verdict(row: dict, exp: dict) -> str:
    """'' when the row meets its expectation, else 'wrong' or 'error'."""
    kind = exp["kind"]
    if kind == "not_readerable":
        return "" if (not row["ok"] and row["err"] == "not_readerable") else "wrong"
    if not row["ok"]:
        # an exception or a missed article: either way an err row
        return "error"
    text = row["text"] or ""
    if kind == "template":
        if any(row[f] != exp[f] for f in TEMPLATE_FIELDS):
            return "wrong"
        if exp["html"] != bool(row.get("content_html")):
            return "wrong"
        return ""
    if any(tok not in text for tok in exp["article"]):
        return "wrong"
    if any(tok in text for tok in exp["boiler"]):
        return "wrong"
    if exp["html"] != bool(row.get("content_html")):
        return "wrong"
    return ""


def count_failures(rows, expected: dict) -> Failures:
    """Check every output row against ``expected`` (url -> expectation).

    A url with no row is missing; every row beyond the first for a url is
    duplicated; a row whose url the input never held is wrong.
    """
    by_url = collections.defaultdict(list)
    for row in rows:
        by_url[row["url"]].append(row)
    f = Failures()
    bad = []
    for url, exp in expected.items():
        got = by_url.get(url)
        if not got:
            f.missing += 1
            bad.append(url)
            continue
        if len(got) > 1:
            f.duplicated += len(got) - 1
            bad.append(url)
        verdict = _row_verdict(got[0], exp)
        if verdict == "wrong":
            f.wrong += 1
            bad.append(url)
        elif verdict == "error":
            f.errors += 1
            bad.append(url)
    for url, got in by_url.items():
        if url not in expected:
            f.wrong += len(got)
            bad.append(url)
    f.examples = tuple(bad[:MAX_EXAMPLES])
    return f
