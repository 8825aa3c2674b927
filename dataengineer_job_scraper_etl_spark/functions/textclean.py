"""Corpus text cleaning — the stage-0 normalization every web-derived
training corpus runs before quality gates and dedup. All JVM regex
chains (one projection, codegen'd, no Python), composable column
functions so pipelines pick the stages they need:

- ``strip_markup``: drop <script>/<style> blocks wholesale, then all
  remaining tags; unescape the half-dozen HTML entities that survive
  real scrapes (&amp; &lt; &gt; &quot; &#39; &nbsp;).
- ``normalize_ws``: control chars -> space, collapse runs, trim.
- ``drop_boilerplate_lines``: remove lines matching classic chrome
  (cookie banners, copyright footers, 'all rights reserved',
  subscribe/sign-in prompts) — line-wise filter via split/filter/join,
  still JVM-side.
- ``clean_text``: the composition, in that order.

The reference's scrape pipeline does the equivalent per-page with
BeautifulSoup get_text (main.py:29-32); this is the corpus-scale
rendering of the same step.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.functions.strings import ws_collapse

_BLOCK_RE = r"(?is)<(script|style)\b[^>]*>.*?</\1>"
_TAG_RE = r"(?s)<[^>]+>"
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
# classic chrome lines; anchored per line, case-insensitive
_BOILER_RE = (
    r"(?i)^\s*(©|\(c\)\s|copyright\b|all rights reserved"
    r"|accept (all )?cookies|we use cookies|cookie (policy|settings)"
    r"|subscribe to our newsletter|sign in to continue"
    r"|terms (of (use|service))?\s*\|\s*privacy).*$"
)

_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # LAST: earlier ones may produce text containing &
)


def strip_markup(col: Column) -> Column:
    out = F.regexp_replace(col, _BLOCK_RE, " ")
    out = F.regexp_replace(out, _TAG_RE, " ")
    for ent, rep in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


def normalize_ws(col: Column) -> Column:
    out = F.regexp_replace(col, _CTRL_RE, " ")
    return ws_collapse(out)


def drop_boilerplate_lines(col: Column) -> Column:
    """Line-wise boilerplate removal BEFORE whitespace collapsing (the
    collapse would destroy line structure). Kept lines re-join with
    newlines."""
    lines = F.split(col, r"\n")
    kept = F.filter(lines, lambda l: ~l.rlike(_BOILER_RE))
    return F.array_join(kept, "\n")


def clean_text(col: Column) -> Column:
    return normalize_ws(drop_boilerplate_lines(strip_markup(col)))
