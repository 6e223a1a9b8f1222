"""Row conditionals (F1): mapping-level filters evaluated before rows
surface (CSVSourceReader.cs:132-148 → ``Conditionals.CheckConditionals``).

The reference's conditional objects come from its framework; the observable
contract is a conjunction of (column, operator, value) triples with
parameter substitution from the request
(``ReplaceMappingConditionalsWithValuesFromRequest``, CSVProvider.cs:545).
Here each triple compiles to a Column predicate — Catalyst pushes the
conjunction into the scan, replacing the reference's per-row recursion.
"""

from __future__ import annotations

from dataclasses import dataclass, asdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import sql_ident

#: operator name -> predicate builder. Negative operators are null-SAFE
#: (a NULL cell passes neq/not_contains/not_in): the reference compares
#: CSV cell strings where "no value" is an empty string, never a SQL
#: NULL, so "not equal to 'b'" keeps blank cells — plain SQL != would
#: silently drop them once data arrives from typed sources.
_OPS = {
    "eq": lambda c, v: c == v,
    "neq": lambda c, v: ~c.eqNullSafe(v),
    "lt": lambda c, v: c < v,
    "lte": lambda c, v: c <= v,
    "gt": lambda c, v: c > v,
    "gte": lambda c, v: c >= v,
    "contains": lambda c, v: c.contains(v),
    "not_contains": lambda c, v: F.coalesce(~c.contains(v), F.lit(True)),
    "starts_with": lambda c, v: c.startswith(v),
    "ends_with": lambda c, v: c.endswith(v),
    "in": lambda c, v: c.isin(list(v)),
    "not_in": lambda c, v: F.coalesce(~c.isin(list(v)), F.lit(True)),
    "is_null": lambda c, v: c.isNull(),
    "not_null": lambda c, v: c.isNotNull(),
}


@dataclass
class Conditional:
    column: str
    op: str
    value: object = None

    def to_column(self) -> Column:
        try:
            build = _OPS[self.op]
        except KeyError:
            raise ValueError(
                f"unknown conditional operator {self.op!r}; valid: {sorted(_OPS)}"
            ) from None
        # one literal name, resolved as the mapping's projection resolves it
        return build(F.col(sql_ident(self.column)), self.value)

    def substituted(self, params: dict[str, object]) -> "Conditional":
        """Parameter substitution (CSVProvider.cs:545): a string value of
        the form ``@name`` is replaced from ``params`` before plan build."""
        v = self.value
        if isinstance(v, str) and v.startswith("@") and v[1:] in params:
            v = params[v[1:]]
        return Conditional(self.column, self.op, v)

    def to_dict(self) -> dict:
        return asdict(self)


def compile_conditionals(
    conds: list[Conditional] | None, params: dict[str, object] | None = None
) -> Column | None:
    """AND-fold conditionals into one predicate; None ⇒ pass-all
    (null conditionals pass every row, CSVSourceReader.cs:145-148)."""
    if not conds:
        return None
    params = params or {}
    pred: Column | None = None
    for c in conds:
        col = c.substituted(params).to_column()
        pred = col if pred is None else (pred & col)
    return pred


def apply_conditionals(
    df: DataFrame,
    conds: list[Conditional] | None,
    params: dict[str, object] | None = None,
) -> DataFrame:
    pred = compile_conditionals(conds, params)
    return df if pred is None else df.filter(pred)
