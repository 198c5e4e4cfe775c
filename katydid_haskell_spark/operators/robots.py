"""robots.txt parsing + URL matching (RFC 9309, public spec) — the
politeness-filtering stage of a crawl-scale training-data pipeline.

Semantics implemented (all from the public RFC / the public Google
robots.txt matcher documentation):

- line syntax: ``key: value`` with ``#`` comments, unknown keys
  (crawl-delay, sitemap, ...) ignored; directive keys are
  case-insensitive;
- groups: consecutive ``User-agent`` lines share the rule block that
  follows; multiple groups for the SAME agent merge (RFC "combine");
- group selection: the group whose agent token equals the requesting
  agent (case-insensitive exact token) if present, else the ``*``
  group, else no rules (everything allowed);
- patterns: anchored at the path start; ``*`` matches any character
  sequence; a trailing ``$`` anchors the end; empty ``Disallow:``
  contributes no rule;
- decision: the LONGEST matching pattern wins (length in characters of
  the raw pattern text); at equal length ``Allow`` wins; no matching
  rule → allowed.

Plan shape: :func:`robots_decide_udf` is one Arrow projection over
(robots body, agent, path) rows — each distinct body is parsed once per
batch and each pattern compiled once per worker (:func:`_compiled`), so
URL admission adds no exchange of its own.
"""

from __future__ import annotations

import functools
import re
from typing import List, Tuple

import pandas as pd
from pyspark.sql.functions import pandas_udf

Rule = Tuple[str, bool, str]  # (agent lowercase, allow, raw pattern)


@functools.lru_cache(maxsize=4096)
def _compiled(regex: str):
    """Compiled-pattern cache: robots rule sets repeat across millions of
    URLs per host, so per-match re.compile would dominate the Arrow
    matcher."""
    return re.compile(regex)


def parse_robots(text: str) -> List[Rule]:
    """Parse one robots.txt body into (agent, allow, pattern) rules.

    Pure function shared by the Arrow batch UDFs; returns rules in file
    order.  Rules seen before any ``User-agent`` line are ignored (no
    group); empty pattern values contribute no rule."""
    rules: List[Rule] = []
    agents: List[str] = []
    block_open = False  # consecutive UA lines accumulate until a rule
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if block_open:
                agents = []
                block_open = False
            if val:
                agents.append(val.lower())
        elif key in ("allow", "disallow"):
            block_open = True
            if val and agents:
                for a in agents:
                    rules.append((a, key == "allow", val))
    return rules


def pattern_regex(pattern: str) -> str:
    """Translate a robots path pattern to an anchored regex in the
    Java/RE2/Python common subset (the regex_dialect discipline):
    ``*`` → ``.*``, trailing ``$`` → end anchor, everything else
    literal-escaped character by character."""
    anchored_end = pattern.endswith("$")
    body = pattern[:-1] if anchored_end else pattern
    out = ["^"]
    for ch in body:
        out.append(".*" if ch == "*" else re.escape(ch))
    if anchored_end:
        out.append("$")
    return "".join(out)


def decide(rules: List[Rule], agent: str, path: str) -> Tuple[bool, int]:
    """(allowed, matched pattern length) for one path under one agent.

    Group selection is exact-token-else-``*``; the longest matching raw
    pattern wins, Allow breaking length ties; no match → (True, 0)."""
    agent = agent.lower()
    grp = [r for r in rules if r[0] == agent]
    if not grp:
        grp = [r for r in rules if r[0] == "*"]
    best_len, best_allow = 0, True
    matched = False
    for _, allow, pat in grp:
        if _compiled(pattern_regex(pat)).match(path):
            ln = len(pat)
            if not matched or ln > best_len or (ln == best_len and allow):
                best_len, best_allow, matched = ln, allow, True
    return (best_allow if matched else True, best_len if matched else 0)


def robots_decide_udf():
    """Arrow-vectorized (robots_text, agent, path) →
    struct(allowed, match_len) with a per-batch parse cache keyed on
    the body text — one parse per distinct robots body per batch (per
    host in practice)."""

    @pandas_udf("struct<allowed: boolean, match_len: int>")
    def run(texts: pd.Series, agents: pd.Series,
            paths: pd.Series) -> pd.DataFrame:
        cache: dict = {}
        allowed, mlen = [], []
        for t, ag, p in zip(texts, agents, paths):
            key = t or ""
            rules = cache.get(key)
            if rules is None:
                rules = cache[key] = parse_robots(key)
            a, ln = decide(rules, ag or "", p or "")
            allowed.append(a)
            mlen.append(ln)
        return pd.DataFrame({"allowed": allowed, "match_len": mlen})

    return run

