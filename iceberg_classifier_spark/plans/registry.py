"""Query registry — single source of truth for the driver contract.

Each entry pairs a Spark DataFrame builder ``fn(spark, sf_dir) -> DataFrame``
with an optional DuckDB-runnable ANSI-SQL oracle string. ``__spark_entry__``
exposes these via ``queries()`` / ``oracle_sql()``. Output column names are
aliased identically on both sides (the driver sorts columns by name before
value-hashing); float outputs are rounded at the query edge so both engines
hash identically.
"""

from __future__ import annotations

import importlib
import pkgutil
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does a rows-only check
    headline: bool = False  # included in bench.py


REGISTRY: dict[str, QueryDef] = {}

_CTE_DEF = re.compile(r"\b(\w+)\s+AS\s+\(", re.IGNORECASE)


def _paren_body(sql: str, open_pos: int) -> str:
    """Text between the paren at ``open_pos`` and its match, with
    single-quoted string literals blanked so parens (and CTE-name
    lookalikes) inside literals neither unbalance the count nor fake a
    self-reference."""
    out: list[str] = []
    depth = 0
    in_str = False
    i = open_pos
    while i < len(sql):
        c = sql[i]
        if in_str:
            if c == "'":
                in_str = False  # '' escapes re-enter on the next quote
            out.append(" ")
        elif c == "'":
            in_str = True
            out.append(" ")
        else:
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    return "".join(out[1:])
            out.append(c)
        i += 1
    return "".join(out[1:])


def materialize_shared_ctes(sql: str) -> str:
    """Rewrite ``<cte> AS (`` to ``<cte> AS MATERIALIZED (`` for every CTE
    referenced more than once in ``sql``.

    DuckDB re-inlines plain CTEs into each reference, so an oracle whose
    expensive frame (a shingle unnest, a fact-table star join) feeds
    several downstream CTEs recomputes it per reference — and, worse,
    re-plans the whole subtree each time. At sf1 this turned a 3.5 s
    oracle into a 20-minute one (decontaminate_8gram) and a 0.2 s one
    into 431 s (graph_degree_assortativity). MATERIALIZED is purely
    physical — values are identical — so applying it centrally at
    registration keeps every oracle's SQL text scale-safe without
    hand-annotating ~600 strings, and the driver (which reads oracles
    from this registry via ``oracle_sql()``) runs the same rewritten SQL
    the parity sweeps verify.

    A match is treated as a CTE definition only when its body (after
    stripping leading ``--`` and ``/* */`` comments and an optional
    opening paren of a parenthesized set-op) starts with SELECT / WITH /
    VALUES / FROM — this excludes window-clause definitions (``WINDOW w
    AS (PARTITION BY ...)``), which share the surface syntax. Recursive
    CTEs cannot be MATERIALIZED, and DuckDB treats EVERY self-referencing
    member of a ``WITH RECURSIVE`` list as recursive, not only the one
    adjacent to the keyword (r7 advice) — so a CTE is skipped when it
    directly follows the RECURSIVE keyword OR when a RECURSIVE keyword
    precedes it and its own parenthesized body (string literals blanked)
    references its own name. Reference counting is
    conservative-by-overcount: a column that shares the CTE's name counts
    as a reference, which at worst materializes a single-reference CTE —
    a no-op for correctness.
    """
    spans: list[int] = []
    for m in _CTE_DEF.finditer(sql):
        name = m.group(1)
        body = sql[m.end() :].lstrip()
        while True:
            if body.startswith("--"):
                body = body.split("\n", 1)[1].lstrip() if "\n" in body else ""
            elif body.startswith("/*") and "*/" in body:
                body = body.split("*/", 1)[1].lstrip()
            else:
                break
        head = body.lstrip("(").lstrip()
        if not re.match(r"(SELECT|WITH|VALUES|FROM)\b", head, re.IGNORECASE):
            continue  # window definition or other non-CTE "AS ("
        if re.search(r"RECURSIVE\s*$", sql[: m.start()], re.IGNORECASE):
            continue  # recursive head — cannot be materialized
        if re.search(r"\bRECURSIVE\b", sql[: m.start()], re.IGNORECASE):
            own_body = _paren_body(sql, sql.index("(", m.end() - 1))
            if re.search(r"\b" + re.escape(name) + r"\b", own_body):
                continue  # self-referencing member of a RECURSIVE list
        refs = len(re.findall(r"\b" + re.escape(name) + r"\b", sql)) - 1
        if refs >= 2:
            spans.append(m.end(1))  # insert right after the CTE name
    if not spans:
        return sql
    parts, prev = [], 0
    for pos in spans:
        parts.append(sql[prev:pos])
        parts.append(" AS MATERIALIZED")
        # skip the original " AS " up to and excluding the "("
        prev = pos + sql[pos:].index("(")
    parts.append(sql[prev:])
    return "".join(parts)


_ROUND_CALL = re.compile(r"\bround\s*\(", re.IGNORECASE)


def _scan_round_calls(sql: str) -> list[tuple[int, int]]:
    """Return (start, close_paren) index pairs for every ``round(...)``
    call in ``sql`` outside single-quoted string literals, including
    calls nested inside another round's arguments."""
    calls: list[tuple[int, int]] = []
    in_str = False
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if in_str:
            if c == "'":
                in_str = False  # '' escapes re-enter on the next quote
            i += 1
            continue
        if c == "'":
            in_str = True
            i += 1
            continue
        m = _ROUND_CALL.match(sql, i)
        if m and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] in '_."')):
            depth = 0
            j = m.end() - 1  # the opening paren
            in_s2 = False
            while j < n:
                cj = sql[j]
                if in_s2:
                    if cj == "'":
                        in_s2 = False
                elif cj == "'":
                    in_s2 = True
                elif cj == "(":
                    depth += 1
                elif cj == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j < n:
                calls.append((i, j))
        i += 1  # advance one char so nested rounds are still found
    return calls


def normalize_round_signed_zero(sql: str) -> str:
    """Rewrite every DuckDB ``round(...)`` call to ``(round(...) + 0.0)``.

    Spark's ``round`` runs through Java BigDecimal, which has no signed
    zero, so a tiny negative that rounds to zero emits ``+0.0``; DuckDB's
    ``round`` preserves the IEEE signbit and emits ``-0.0``. Both survive
    into the driver's value hash, which distinguishes them — round 9's one
    red driver row (``mediation_product_coeffs``: an ``identity_gap``
    self-check whose true value is ±1e-17 depending on each engine's fold
    order) was exactly this split. ``x + 0.0`` is the IEEE identity that
    maps ``-0.0`` to ``+0.0`` and is a value no-op on every other input
    (NaN/±inf/NULL included), so applying it centrally at registration
    makes DuckDB's round match Spark's zero semantics for all ~600 oracles
    without hand-editing them. DuckDB's typing keeps the wrap lossless:
    ``DECIMAL(p,s) + 0.0`` stays ``DECIMAL(p,s)`` and ``DOUBLE + 0.0``
    stays ``DOUBLE`` (verified by scripts/audit_round_rewrite.py, which
    DESCRIBEs every oracle before/after). Intermediate (non-edge) rounds
    are wrapped too; that is equally a no-op — any expression downstream
    of a rounded value that could distinguish -0.0 from +0.0 (1/x, atan2)
    would already diverge from Spark's always-+0.0 round and show red in
    the signbit-aware parity sweep.
    """
    calls = _scan_round_calls(sql)
    if not calls:
        return sql
    inserts: list[tuple[int, str]] = []
    for s, e in calls:
        inserts.append((s, "("))
        inserts.append((e + 1, " + 0.0)"))
    inserts.sort(key=lambda t: t[0])
    out: list[str] = []
    prev = 0
    for pos, txt in inserts:
        out.append(sql[prev:pos])
        out.append(txt)
        prev = pos
    out.append(sql[prev:])
    return "".join(out)


def query(name: str, oracle: str | None = None, headline: bool = False):
    """Decorator registering a query builder under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(
            fn=fn,
            oracle=normalize_round_signed_zero(materialize_shared_ctes(oracle))
            if oracle
            else oracle,
            headline=headline,
        )
        return fn

    return deco


def _rotation_offset(n: int) -> int:
    """Deterministic per-round rotation of registry iteration order.

    The external driver value-checks only the FIRST 50 entries of
    ``queries()`` in iteration order, so a fixed order re-confirms the
    same relational block every round. Rotating by 50 × (completed
    rounds) walks the driver's window across the whole registry —
    every operator eventually gets external (not just in-repo pytest)
    confirmation. Keyed on the count of committed CORRECTNESS_r*.json
    artifacts so the offset advances exactly once per round with no
    env-var contract; falls back to 0 anywhere outside the repo.
    """
    if not n:
        return 0
    try:
        import glob
        import os

        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        k = len(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    except Exception:
        k = 0
    return (k * 50) % n


def load_all_queries() -> dict[str, QueryDef]:
    """Import every module of ``iceberg_classifier_spark.plans``
    (side-effect: fills REGISTRY), in module-name order."""
    from iceberg_classifier_spark import plans

    for mod in sorted(m.name for m in pkgutil.iter_modules(plans.__path__)):
        if mod != "registry":
            importlib.import_module(f"{plans.__name__}.{mod}")

    # Rotate over the oracle-backed keys ONLY, and append the rows-only
    # (oracle=None) MLlib fits at the end: the external driver value-checks
    # the FIRST 50 entries of queries() in iteration order, so an
    # oracle-less entry inside the window burns a verification slot on a
    # rows-only check (r7's early_stopping_head). With this ordering every
    # driver slot verifies a value hash.
    keys = list(REGISTRY)
    with_oracle = [k for k in keys if REGISTRY[k].oracle is not None]
    rows_only = [k for k in keys if REGISTRY[k].oracle is None]
    off = _rotation_offset(len(with_oracle))
    ordered = with_oracle[off:] + with_oracle[:off] + rows_only
    return {k: REGISTRY[k] for k in ordered}
