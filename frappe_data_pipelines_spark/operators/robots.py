"""robots.txt parsing + crawl-politeness filtering.

A crawl-derived corpus is expected to honor robots exclusions (C4 and every
serious crawl pipeline filter on them — and retroactive robots compliance
is a recurring dataset-curation task). This module implements the RFC 9309
group model over the literal-prefix rule subset:

* groups are selected by User-agent — the group naming our agent exactly
  wins over the ``*`` group; multiple agent lines may head one group;
* Allow/Disallow values are matched as path prefixes, longest match wins,
  Allow wins length ties, no matching rule means allowed, and an empty
  Disallow value allows everything (the classic idiom);
* wildcard (``*``/``$``) rules are NOT interpreted — they are rare, and a
  silent wrong match is worse than a documented subset; such rules are
  skipped (conservative toward allowing, exactly what a filter that also
  keeps a blocklist wants).

Spark shape: robots bodies live on the (tiny) per-host dimension; parsing
runs once per host, the URL-side work is a broadcast join host→rules, an
explode over each host's few rules, a prefix match, and a per-URL longest-
match top-1 — all Column expressions after the parse, no per-URL Python.

Reference: no counterpart (the reference ingests drive files); part of the
beyond-the-reference web-corpus surface (htmlmini, urls).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark.operators import kernel


def parse_robots(text: str, agent: str = "*") -> list[tuple[bool, str]]:
    """robots.txt body → ordered [(allow, path_prefix)] rules for ``agent``
    (exact-name group preferred, else the ``*`` group, RFC 9309 §2.2.1).
    Wildcard-bearing values are skipped (documented subset)."""
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    in_group_body = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if in_group_body:  # a new group starts
                groups.append((agents, rules))
                agents, rules = [], []
                in_group_body = False
            agents.append(value.lower())
        elif key in ("allow", "disallow"):
            in_group_body = True
            if "*" in value or value.endswith("$"):
                continue  # wildcard subset: skip, stay conservative
            if key == "disallow" and value == "":
                continue  # empty Disallow = allow all (no rule)
            rules.append((key == "allow", value))
        else:
            in_group_body = in_group_body or bool(agents)
    if agents:
        groups.append((agents, rules))
    # RFC 9309 §2.2.1: ALL groups naming the most specific matching agent
    # merge into one rule set (sites commonly repeat "User-agent: *")
    for want in (agent.lower(), "*"):
        merged = [
            r for group_agents, group_rules in groups
            if want in group_agents
            for r in group_rules
        ]
        if any(want in group_agents for group_agents, _ in groups):
            return merged
    return []


ROBOTS_RULE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("allow", T.BooleanType()),
        T.StructField("prefix", T.StringType()),
    ]
)


def robots_rules(robots_df: DataFrame, host_col: str = "host",
                 text_col: str = "robots_txt", agent: str = "*") -> DataFrame:
    """(host, robots_txt) dimension → one row per (host, allow, prefix)
    rule. Parsing is per-host (the dimension is small next to the URL
    fact side); hosts whose file yields no rules emit no rows — the
    longest-match join then defaults them to allowed."""
    narrow = robots_df.select(F.col(host_col).alias("host"), F.col(text_col).alias("txt"))

    def rows(host, txt):
        return [(host, allow, prefix) for allow, prefix in parse_robots(txt or "", agent=agent)]

    return kernel.map_rows(narrow, rows, ROBOTS_RULE_SCHEMA)


def robots_filter(urls: DataFrame, rules: DataFrame,
                  host_col: str = "host", path_col: str = "path") -> DataFrame:
    """Annotate every URL row with ``allowed``: longest matching prefix
    rule wins, Allow wins ties, no match → allowed.

    A verdict is a pure function of (host, path), so it is computed once
    per DISTINCT pair — broadcast-join the per-host rules dimension,
    reduce with ``max_by`` over (match length, allow) (partial-aggregable,
    no window sort, no synthetic row ids), then join the verdicts back to
    the fact side. Duplicate URLs across the corpus pay the rule scan
    once."""
    pairs = urls.select(host_col, path_col).distinct()
    m = pairs.join(F.broadcast(rules), [host_col], "left").withColumn(
        "__match",
        F.col("prefix").isNotNull() & F.col(path_col).startswith(F.col("prefix")),
    )
    verdicts = m.groupBy(host_col, path_col).agg(
        F.coalesce(
            F.max_by(
                # verdict of the best rule (NULL when that rule is no match)
                F.when(F.col("__match"), F.col("allow")),
                F.struct(
                    F.when(F.col("__match"), F.length("prefix"))
                    .otherwise(F.lit(-1))
                    .alias("l"),
                    F.coalesce(F.col("allow"), F.lit(False)).alias("a"),
                ),
            ),
            F.lit(True),  # no matching rule → allowed
        ).alias("allowed")
    )
    return urls.join(verdicts, [host_col, path_col])
