"""Parameterized-query templating: the reference's ``::key::`` grammar.

Re-implements the reference's SQL templating (reference
``app/utils/extractor.py:57-120``) engine-independently:

- scalar params  → one SQL literal           (``extractor.py:63-66,72-74``)
- list params    → comma-joined IN list      (``extractor.py:68-71``)
- ``step:<name>``  → value pulled from a prior step's output
                                             (``extractor.py:107-114``)
- ``macro:<name>`` → registered function     (``extractor.py:115-117``)

Differences from the reference (intended-semantics fixes, SURVEY.md §2E):
the missing-comma ``SyntaxError`` at ``extractor.py:73`` obviously isn't
reproduced, values render as *safely quoted literals* instead of JDBC
``?`` binds (works identically in ``spark.sql`` and DuckDB), and the
``YYYYMMDD`` macro uses ``%Y%m%d`` (the reference's ``%Y%M%D`` at
``macros.py:15`` is year-minute-dd/mm/yy).
"""

from __future__ import annotations

import datetime as dt
import re
import uuid
from collections.abc import Callable, Mapping
from typing import Any

__all__ = [
    "render_sql",
    "resolve_params",
    "sql_literal",
    "spark_sql_with_params",
    "MACROS",
    "register_macro",
    "MAX_INLINE_LIST",
]

_PLACEHOLDER = re.compile(r"::([A-Za-z_][A-Za-z0-9_]*)::")

# Above this many values, an IN-list param no longer renders as inline SQL
# text: the rendered string (and the collected list feeding it) grows
# without bound on the driver, which is the reference's latent scale bug
# (extractor.py:68-71). `spark_sql_with_params` flips such params into a
# temp-view semi-join subquery instead; plain `render_sql` raises.
MAX_INLINE_LIST = 10_000


def _school_year(today: dt.date | None = None) -> int:
    """Reference ``macros.py:4-11``: after July the school year is year+1."""
    today = today or dt.date.today()
    return today.year + 1 if today.month > 7 else today.year


def _yyyymmdd(today: dt.date | None = None) -> str:
    """Reference ``macros.py:13-16`` (intended semantics: %Y%m%d)."""
    return (today or dt.date.today()).strftime("%Y%m%d")


MACROS: dict[str, Callable[[], Any]] = {
    "SCHOOL_YEAR": _school_year,
    "YYYYMMDD": _yyyymmdd,
    "TODAY": lambda: dt.date.today().isoformat(),
}


def register_macro(name: str, fn: Callable[[], Any]) -> None:
    MACROS[name] = fn


def sql_literal(value: Any, dialect: str = "ansi") -> str:
    """Render a Python value as a SQL literal for the target ``dialect``.

    ``"ansi"`` (DuckDB, Derby, standard-conforming JDBC targets) treats a
    backslash inside ``'...'`` as an ordinary character and only doubles
    single quotes. Spark SQL's parser additionally processes backslash
    escapes inside string literals (``escapedStringLiterals`` defaults to
    false), so for ``dialect="spark"`` a value ending in ``\\`` or
    containing ``\\'`` would otherwise render malformed — or injectable,
    since ``step:`` params carry collected *data* values. The ``"spark"``
    dialect therefore doubles backslashes before quoting; ``"backslash"``
    is the same escaping for JDBC backends with backslash-escaped string
    literals (MySQL/MariaDB default mode) — see ``SourceSql.dialect``.
    ``"spark_any"`` reads back verbatim on Spark whatever
    ``spark.sql.parser.escapedStringLiterals`` says: that legacy conf keeps
    a literal's text as written (a doubled quote stays doubled) while the
    lexer still pairs a backslash with the next character, so a backslash
    or a quote becomes ``chr(92)``/``chr(39)`` inside a ``concat``.
    """
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, float) and (value != value or value in (float("inf"), float("-inf"))):
        # repr() would yield bare `inf`/`nan`, which neither Spark nor
        # DuckDB parses as a literal — and step: params carry data-derived
        # floats, so non-finites do reach this path.
        token = "NaN" if value != value else ("Infinity" if value > 0 else "-Infinity")
        return f"CAST('{token}' AS DOUBLE)"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, dt.datetime):
        return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
    if isinstance(value, dt.date):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, (list, tuple)):
        if not value:
            # empty IN-list: `IN (NULL)` matches nothing, which is the
            # sane semantics for an empty id list (and stays parseable)
            return "NULL"
        return ", ".join(sql_literal(v, dialect) for v in value)
    s = str(value)
    if dialect == "spark_any":
        parts = [p for p in re.split(r"([\\'])", s) if p]
        args = [f"chr({ord(p)})" if p in ("\\", "'") else f"'{p}'" for p in parts]
        return f"concat({', '.join(args)})" if len(args) > 1 else (args[0] if args else "''")
    if dialect in ("spark", "backslash"):
        s = s.replace("\\", "\\\\")
    s = s.replace("'", "''")
    return f"'{s}'"


def resolve_params(
    params: Mapping[str, Any],
    step_outputs: Mapping[str, Any] | None = None,
) -> dict[str, Any]:
    """Resolve ``step:``/``macro:`` indirections to concrete values.

    Mirrors reference ``extractor.py:107-120``: a string value
    ``"step:<name>"`` reads a prior step's output, ``"macro:<name>"``
    calls a registered macro; anything else passes through.
    """
    out: dict[str, Any] = {}
    for key, value in params.items():
        if isinstance(value, str) and value.startswith("step:"):
            name = value[5:]
            if step_outputs is None or name not in step_outputs:
                raise KeyError(f"param {key!r} references unknown step output {name!r}")
            out[key] = step_outputs[name]
        elif isinstance(value, str) and value.startswith("macro:"):
            name = value[6:]
            if name not in MACROS:
                raise KeyError(f"param {key!r} references unknown macro {name!r}")
            out[key] = MACROS[name]()
        else:
            out[key] = value
    return out


def render_sql(
    sql: str,
    params: Mapping[str, Any] | None = None,
    step_outputs: Mapping[str, Any] | None = None,
    dialect: str = "ansi",
    max_inline_list: int | None = MAX_INLINE_LIST,
) -> str:
    """Replace every ``::key::`` placeholder with a rendered literal.

    Lists expand to ``a, b, c`` so ``IN (::ids::)`` works exactly like the
    reference's dynamic IN expansion (``extractor.py:68-71``) — but only up
    to ``max_inline_list`` values; above that the call raises, because an
    unbounded rendered SQL string is a driver/remote-parser blowup at
    scale (use ``spark_sql_with_params``, which flips oversize lists into
    a semi-join subquery, or a join_semi plan). Pass ``None`` to disable
    the guard. Unknown placeholders raise (the reference would silently
    ship broken SQL).
    """
    resolved = resolve_params(params or {}, step_outputs)
    if max_inline_list is not None:
        for key, value in resolved.items():
            if isinstance(value, (list, tuple)) and len(value) > max_inline_list:
                raise ValueError(
                    f"param {key!r} has {len(value)} values — refusing to render an "
                    f"inline IN-list above {max_inline_list}; use spark_sql_with_params "
                    f"(semi-join subquery) or a join_semi plan instead"
                )

    def sub(match: re.Match[str]) -> str:
        key = match.group(1)
        if key not in resolved:
            raise KeyError(f"no value supplied for placeholder ::{key}::")
        return sql_literal(resolved[key], dialect)

    return _PLACEHOLDER.sub(sub, sql)


def spark_sql_with_params(
    spark: Any,
    sql: str,
    params: Mapping[str, Any] | None = None,
    step_outputs: Mapping[str, Any] | None = None,
    max_inline_list: int = MAX_INLINE_LIST,
):
    """Run a ``::key::`` template on Spark, scale-safe for any list size.

    Small list params render inline like ``render_sql`` in the
    ``"spark_any"`` dialect, so the caller's session may set the legacy
    ``escapedStringLiterals`` parser either way. A list param longer than
    ``max_inline_list`` instead becomes a single-column temp view, and its
    placeholder is substituted with ``SELECT ... FROM <view>`` — so
    ``x IN (::ids::)`` turns into ``x IN (SELECT ...)``, which Catalyst
    plans as a LeftSemi join (broadcast when small enough). The driver never builds an unbounded
    SQL string, and the values ride an Arrow batch instead of SQL text.
    """
    from data_bridge_spark.session import local_frame

    resolved = resolve_params(params or {}, step_outputs)
    referenced = set(_PLACEHOLDER.findall(sql))
    views: dict[str, str] = {}
    view_names: list[str] = []
    # views only for oversize list params whose placeholder actually
    # appears in the template; unique-suffixed so concurrent queries in
    # one session can't collide, and dropped after spark.sql() returns
    # (the analyzed plan no longer needs the catalog entry).
    for key, value in resolved.items():
        if (
            key in referenced
            and isinstance(value, (list, tuple))
            and len(value) > max_inline_list
        ):
            view = f"__param_{key}_{uuid.uuid4().hex[:12]}"
            schema = f"__{key} {_spark_list_type(key, value)}"
            local_frame(spark, [(v,) for v in value], schema).createOrReplaceTempView(view)
            view_names.append(view)
            views[key] = f"SELECT __{key} FROM {view}"

    def sub(match: re.Match[str]) -> str:
        key = match.group(1)
        if key not in resolved:
            raise KeyError(f"no value supplied for placeholder ::{key}::")
        if key in views:
            return views[key]
        return sql_literal(resolved[key], "spark_any")

    try:
        return spark.sql(_PLACEHOLDER.sub(sub, sql))
    finally:
        for view in view_names:
            spark.catalog.dropTempView(view)


def _spark_list_type(key: str, values: list | tuple) -> str:
    """Spark SQL type for a list param's view column, inferred from the
    first non-None element; heterogeneous lists raise instead of silently
    mistyping the semi-join key (a string-typed view column against a
    bigint fact key would change join semantics, not error)."""
    types = {type(v) for v in values if v is not None}
    if not types:
        raise ValueError(f"list param {key!r} is entirely NULL — cannot infer a column type")
    if len(types) > 1:
        raise ValueError(
            f"list param {key!r} mixes types {sorted(t.__name__ for t in types)} — "
            "cast the values to one type before binding"
        )
    sample = next(v for v in values if v is not None)
    if isinstance(sample, bool):
        return "boolean"
    if isinstance(sample, int):
        return "bigint"
    if isinstance(sample, float):
        return "double"
    if isinstance(sample, dt.datetime):
        return "timestamp"
    if isinstance(sample, dt.date):
        return "date"
    if isinstance(sample, str):
        return "string"
    raise TypeError(f"list param {key!r}: unsupported element type {type(sample).__name__}")
