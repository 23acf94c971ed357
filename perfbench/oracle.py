"""Independent oracles for the benchmark's correctness checks.

``spec_to_sql`` translates a Filter-DSL spec into a DuckDB ``WHERE``
clause written from the DSL's documented semantics, not from the
library's compiler, so a compiler bug shows as a mismatch:

* list of dicts = OR, fields of one dict = AND, criteria list = OR,
  a dict-valued field recurses into a nested path;
* column mode: a column absent from the schema matches nothing except
  ``{"exists": False}``; ``exists`` on a present column is true even
  where the value is NULL;
* json mode: values are ``json_extract_string`` text, cast to DOUBLE or
  BOOLEAN when the criterium is numeric or boolean; ``exists`` is exact
  for top-level keys and "not NULL" for nested paths (JSON null and an
  absent nested key are the same to a path lookup).

``EventsOracle.digest`` runs the benchmark's forcing aggregate over the
same files the library read.
"""

from __future__ import annotations

import duckdb

AGG_SQL = "count(*), coalesce(sum(event_id), 0), coalesce(sum(amount), 0)"


def _lit(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


class _Ref:
    def __init__(self, path: tuple[str, ...], json_col: str | None,
                 columns: dict[str, str]):
        self.json = json_col is not None
        if self.json:
            jp = "$." + ".".join(path)
            self.expr = f"json_extract_string({json_col}, {_lit(jp)})"
            self.present = None
            self.is_string = True
            self.top_key = (f"coalesce(list_contains(json_keys({json_col}), "
                            f"{_lit(path[0])}), FALSE)"
                            if len(path) == 1 else None)
        else:
            name = path[0]
            self.present = len(path) == 1 and name in columns
            self.expr = f'"{name}"'
            self.is_string = columns.get(name, "").upper().startswith(
                "VARCHAR")
            self.top_key = None

    def typed(self, sample) -> str:
        if not self.json:
            return self.expr
        if isinstance(sample, bool):
            return f"TRY_CAST({self.expr} AS BOOLEAN)"
        if isinstance(sample, (int, float)):
            return f"TRY_CAST({self.expr} AS DOUBLE)"
        return self.expr


def _criterium(ref: _Ref, c) -> str:
    if ref.present is False:
        if isinstance(c, dict) and "exists" in c:
            return "TRUE" if not c["exists"] else "FALSE"
        return "FALSE"
    if c is None:
        return f"({ref.expr} IS NULL)"
    if isinstance(c, (str, int, float, bool)):
        return f"({ref.typed(c)} = {_lit(c)})"
    (key, arg), = c.items()
    if key == "anything-but":
        vals = [v for v in arg if v is not None]
        if not vals:
            return f"({ref.expr} IS NOT NULL)" if None in arg else "TRUE"
        not_in = (f"({ref.typed(vals[0])} NOT IN "
                  f"({', '.join(_lit(v) for v in vals)}))")
        if None in arg:
            return f"({ref.expr} IS NOT NULL AND {not_in})"
        return f"({ref.expr} IS NULL OR {not_in})"
    if key == "numeric":
        val = f"TRY_CAST({ref.expr} AS DOUBLE)" if ref.json else ref.expr
        parts = [f"({val} {op} {_lit(v)})"
                 for op, v in zip(arg[0::2], arg[1::2])]
        return "(" + " AND ".join(parts or ["TRUE"]) + ")"
    if key == "exists":
        if ref.present is True:
            return "TRUE" if arg else "FALSE"
        if ref.top_key is not None:
            return ref.top_key if arg else f"(NOT {ref.top_key})"
        return f"({ref.expr} IS {'NOT ' if arg else ''}NULL)"
    if key == "prefix":
        if not ref.is_string:
            return "FALSE"
        return f"starts_with({ref.expr}, {_lit(arg)})"
    raise ValueError(f"unsupported criterium {c!r}")


def _fields(f: dict, root: tuple[str, ...], json_col, columns) -> str:
    parts = []
    for field, criteria in f.items():
        path = root + (field,)
        if isinstance(criteria, list):
            ref = _Ref(path, json_col, columns)
            ors = [_criterium(ref, c) for c in criteria] or ["FALSE"]
            parts.append("(" + " OR ".join(ors) + ")")
        elif isinstance(criteria, dict):
            parts.append(_fields(criteria, path, json_col, columns))
    return "(" + " AND ".join(parts or ["TRUE"]) + ")"


def spec_to_sql(spec: list[dict], columns: dict[str, str],
                json_col: str | None = None) -> str:
    """WHERE-clause text for ``spec``; ``columns`` maps name → DuckDB type."""
    if not spec:
        return "TRUE"
    return "(" + " OR ".join(_fields(f, (), json_col, columns)
                             for f in spec) + ")"


class EventsOracle:
    """DuckDB over a hive-partitioned parquet dataset."""

    def __init__(self, path: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(f"SET temp_directory = '{path}.duckdb-tmp'")
        self.rel = (f"read_parquet('{path}/**/*.parquet', "
                    "hive_partitioning = true)")
        self.columns = {
            name: typ for name, typ, *_ in self.con.execute(
                f"DESCRIBE SELECT * FROM {self.rel}").fetchall()}

    def digest(self, spec: list[dict], json_col: str | None = None
               ) -> tuple[int, int, int]:
        where = spec_to_sql(spec, self.columns, json_col)
        row = self.con.execute(
            f"SELECT {AGG_SQL} FROM {self.rel} WHERE {where}").fetchone()
        return tuple(int(v) for v in row)

    def close(self) -> None:
        self.con.close()
