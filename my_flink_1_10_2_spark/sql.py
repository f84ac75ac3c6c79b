"""Flink-SQL dialect pre-rewriter (SURVEY §7.0 `engine.sql`).

The reference's streaming SQL adds group-window functions that ANSI/Spark
SQL lacks: ``TUMBLE/HOP/SESSION(rowtime, INTERVAL ...)`` in GROUP BY with
``*_START/*_END/*_ROWTIME/*_PROCTIME`` auxiliaries in the select list
(ref: FlinkSqlOperatorTable.java:777-824, parsed by flink-sql-parser and
planned in StreamExecGroupWindowAggregate.scala:33). Spark expresses the
same thing with the ``window()`` / ``session_window()`` table functions,
which produce a struct column with ``start``/``end`` fields.

This module rewrites the Flink spellings into the Spark ones *textually*
before handing the query to Catalyst — no custom parser, no semantic
divergence: after rewriting, everything (resolution, optimization,
pushdown) is ordinary Spark SQL.

Mappings:
  TUMBLE(ts, INTERVAL '1' HOUR)            → window(ts, '1 hours')
  HOP(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR)
                                           → window(ts, '1 hours', '30 minutes')
                                             (note the size/slide arg swap)
  SESSION(ts, INTERVAL '30' MINUTE)        → session_window(ts, '30 minutes')
  TUMBLE_START/_END(...)                   → window.start / window.end
  HOP_START/_END(...)                      → window.start / window.end
  SESSION_START/_END(...)                  → session_window.start / .end
  TUMBLE_ROWTIME/HOP_ROWTIME(...)          → window.end  (Flink's rowtime is
                                             end − 1 ms; the end bound is the
                                             faithful watermark-safe analog)
  PROCTIME()                               → current_timestamp()
"""

from __future__ import annotations

import re

_UNITS = {"SECOND": "seconds", "MINUTE": "minutes", "HOUR": "hours", "DAY": "days"}
_IVL = r"INTERVAL\s+'(\d+)'\s+(SECOND|MINUTE|HOUR|DAY)S?"


def _dur(n: str, unit: str) -> str:
    return f"{n} {_UNITS[unit.upper()]}"


def rewrite_flink_sql(query: str) -> str:
    """Rewrite Flink group-window SQL into Spark SQL. Queries without
    Flink-only constructs pass through byte-identical."""
    q = query

    # auxiliaries first (their argument lists contain the same intervals
    # the bare window functions use, so longest-match order matters)
    q = re.sub(
        rf"\b(TUMBLE|HOP|SESSION)_(START|END|ROWTIME)\s*\(\s*[\w.]+\s*(?:,\s*{_IVL}\s*)+\)",
        lambda m: (
            ("session_window" if m.group(1).upper() == "SESSION" else "window")
            + "." + ("end" if m.group(2).upper() in ("END", "ROWTIME") else "start")
        ),
        q,
        flags=re.IGNORECASE,
    )

    # TUMBLE(ts, interval) → window(ts, 'dur')
    q = re.sub(
        rf"\bTUMBLE\s*\(\s*([\w.]+)\s*,\s*{_IVL}\s*\)",
        lambda m: f"window({m.group(1)}, '{_dur(m.group(2), m.group(3))}')",
        q,
        flags=re.IGNORECASE,
    )
    # HOP(ts, slide, size) → window(ts, 'size', 'slide')
    q = re.sub(
        rf"\bHOP\s*\(\s*([\w.]+)\s*,\s*{_IVL}\s*,\s*{_IVL}\s*\)",
        lambda m: (
            f"window({m.group(1)}, '{_dur(m.group(4), m.group(5))}', "
            f"'{_dur(m.group(2), m.group(3))}')"
        ),
        q,
        flags=re.IGNORECASE,
    )
    # SESSION(ts, gap) → session_window(ts, 'gap')
    q = re.sub(
        rf"\bSESSION\s*\(\s*([\w.]+)\s*,\s*{_IVL}\s*\)",
        lambda m: f"session_window({m.group(1)}, '{_dur(m.group(2), m.group(3))}')",
        q,
        flags=re.IGNORECASE,
    )

    # PROCTIME() → current_timestamp()
    q = re.sub(r"\bPROCTIME\s*\(\s*\)", "current_timestamp()", q, flags=re.IGNORECASE)

    q = _rewrite_lateral_table(q)
    return q


_LATERAL_LEAD = re.compile(
    r"(?:,|\bCROSS\s+JOIN\b)\s*LATERAL\s+TABLE\s*\(", re.IGNORECASE
)
_LATERAL_ALIAS = re.compile(
    r"\s*(?:AS\s+)?(\w+)\s*(?:\(\s*([\w\s,]+?)\s*\))?", re.IGNORECASE
)
_SQL_KEYWORDS = frozenset(
    "WHERE GROUP ORDER HAVING LIMIT ON JOIN UNION INTERSECT EXCEPT "
    "SELECT FROM CROSS LATERAL INNER LEFT RIGHT FULL".split()
)


def _rewrite_lateral_table(q: str) -> str:
    """Flink correlate: [CROSS JOIN | ,] LATERAL TABLE(fn(args)) AS T(c1, c2)
      → Spark LATERAL VIEW fn(args) T AS c1, c2
    (ref: CorrelateITCase.scala; fn must resolve to a Spark generator —
    explode/posexplode/inline/stack/json_tuple or a registered UDTF).

    UDTF arguments are parsed with a balanced-paren scan, so arbitrarily
    nested calls work; the column list after the alias is optional
    (Spark defaults the generator's column names).  Any spelling this
    can't rewrite raises immediately instead of handing Spark's parser
    an unrewritten `LATERAL TABLE` and an opaque error.
    """
    out: list[str] = []
    pos = 0
    while True:
        m = _LATERAL_LEAD.search(q, pos)
        if m is None:
            break
        out.append(q[pos : m.start()])
        # balanced scan from just inside TABLE( to its matching ')'
        i = m.end()
        depth, j = 1, i
        while j < len(q) and depth:
            if q[j] == "(":
                depth += 1
            elif q[j] == ")":
                depth -= 1
            j += 1
        call = q[i : j - 1].strip() if not depth else ""
        fnm = re.match(r"(\w+)\s*\((.*)\)$", call, re.DOTALL)
        am = _LATERAL_ALIAS.match(q, j)
        alias_ok = am and am.group(1).upper() not in _SQL_KEYWORDS
        if depth or not fnm or not alias_ok:
            raise ValueError(
                "unsupported LATERAL TABLE spelling near: "
                f"{q[m.start() : m.start() + 80]!r} — expected "
                "LATERAL TABLE(udtf(args)) [AS] alias [(col, ...)]"
            )
        fn, args = fnm.group(1), fnm.group(2)
        alias, cols = am.group(1), am.group(2)
        piece = f" LATERAL VIEW {fn}({args}) {alias}"
        if cols:
            piece += f" AS {', '.join(c.strip() for c in cols.split(','))}"
        out.append(piece)
        pos = am.end()
    out.append(q[pos:])
    result = "".join(out)
    if re.search(r"\bLATERAL\s+TABLE\b", result, re.IGNORECASE):
        raise ValueError(
            "unsupported LATERAL TABLE spelling (must follow ',' or "
            "'CROSS JOIN'): " + result
        )
    return result
