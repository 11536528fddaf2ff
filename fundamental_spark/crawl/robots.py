"""robots.txt policy: parse + JVM-side allow filter + crawl-delay.

The reference sets ROBOTSTXT_OBEY = False (funda/settings.py:12); the
rebuild's north rule mandates honoring robots.txt and crawl-delay, so
the engine parses the policy once on the driver (robots.txt is one
small file per domain) and compiles it into:

- a Crawl-delay that raises ``PolitenessConfig.crawl_delay_s`` (the
  CrawlRunner applies it when given ``robots_txt``);
- ``allowed_col``: a pure-JVM column expression deciding
  allow/disallow per URL — longest-matching-prefix rule wins, Allow
  beats Disallow at equal length (the de-facto REP semantics), so the
  frontier filter runs distributed with zero Python.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F


@lru_cache(maxsize=1024)
def _rule_regex(pattern: str) -> str:
    """REP rule pattern -> anchored regex: '*' matches any sequence,
    a TRAILING '$' anchors end-of-path (both common in real robots.txt
    and previously matched literally, i.e. never); every other char is
    literal. The same string is valid Python AND Java regex, so the
    driver check and the JVM rlike agree."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch in ".^$+?{}()[]|\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + ("$" if anchored else "")


@dataclass(frozen=True)
class RobotsPolicy:
    crawl_delay: float | None
    # (pattern, is_allow) — '' matches everything; '*'/'$' per REP
    rules: tuple[tuple[str, bool], ...]

    def allowed(self, path: str) -> bool:
        best: tuple[int, bool] | None = None
        for pattern, is_allow in self.rules:
            if re.match(_rule_regex(pattern), path):
                key = (len(pattern), is_allow)
                if best is None or key > best:
                    best = key
        return True if best is None else best[1]


def parse_robots(txt: str, user_agent: str = "*") -> RobotsPolicy:
    """Minimal REP parser: groups by User-agent; rules are taken from
    the most specific matching group (exact agent token if present,
    else '*'). Unknown directives ignored; empty Disallow allows all."""
    groups: dict[str, dict] = {}
    current: list[str] = []
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            agent = val.lower()
            groups.setdefault(agent, {"rules": [], "delay": None})
            # consecutive user-agent lines share the following rules
            if current and current[-1] != agent and _last_group_empty(groups, current):
                current.append(agent)
            else:
                current = [agent]
        elif key in ("disallow", "allow") and current:
            for agent in current:
                if val:  # empty Disallow: allow all (no rule)
                    groups[agent]["rules"].append((val, key == "allow"))
        elif key == "crawl-delay" and current:
            try:
                d = float(val)
            except ValueError:
                continue
            for agent in current:
                groups[agent]["delay"] = d
    ua = user_agent.lower()
    g = groups.get(ua) or groups.get("*") or {"rules": [], "delay": None}
    return RobotsPolicy(crawl_delay=g["delay"], rules=tuple(g["rules"]))


def _last_group_empty(groups: dict, current: list[str]) -> bool:
    return not groups[current[-1]]["rules"] and groups[current[-1]]["delay"] is None


def url_path(url: Column) -> Column:
    return F.regexp_replace(url, r"^https?://[^/]+", "")


def allowed_col(url: Column, policy: RobotsPolicy) -> Column:
    """Compile the (small, fixed) rule set into a JVM expression: rules
    sorted by pattern length descending, Allow before Disallow at equal
    length, first match decides; no rules -> allowed. Plain prefixes
    stay startswith (codegen string compare); patterns with '*' or a
    trailing '$' become an rlike on the shared regex translation."""
    if not policy.rules:
        return F.lit(True)
    path = url_path(url)
    # chain ordered longest-pattern-first (Allow first at equal length):
    # the first matching WHEN decides; no match -> allowed
    chain = None
    for pattern, is_allow in sorted(
        policy.rules, key=lambda r: (-len(r[0]), not r[1])
    ):
        if "*" in pattern or pattern.endswith("$"):
            cond = path.rlike(_rule_regex(pattern))
        else:
            cond = path.startswith(pattern)
        chain = F.when(cond, F.lit(is_allow)) if chain is None else chain.when(
            cond, F.lit(is_allow)
        )
    return F.coalesce(chain, F.lit(True))
