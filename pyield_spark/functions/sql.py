"""Identifier quoting for SQL text built in Python.

Helpers that build SQL text (``truncar_expr``, ``pround_expr`` and
``round_pl_expr``, the similarity folds, ``coupon_flow_sql``,
``grid_pitch_sql`` and ``raw_maturity_sql``) take ``str`` arguments as
SQL fragments. A user-supplied column name becomes
such a fragment only through :func:`ident`, so a name holding a
backtick, a space or a reserved word still resolves to the column it
names.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier; a backtick
    inside the name is doubled."""
    return "`" + name.replace("`", "``") + "`"
