"""Reading Spark's own SQL parse (Catalyst's unresolved plans) from
Python.

``IceSqlSession`` hands every statement Spark can parse to
``parse_plan`` and reads the resulting tree through Py4J: node names,
table names, literals, and expressions back as SQL text. Nothing here
analyzes or executes a plan — the tree is only a structured view of the
statement text.

Text comes back two ways:

- ``expr_text``: ``Expression.sql()`` — Spark's own rendering, which
  normalizes quoting (``'it''s'`` → ``'it\\'s'``, ``"b"`` → ``'b'``).
  Subqueries and lambdas do not render (``scalarsubquery()``), so an
  expression holding one comes back as its source span instead.
- ``span``: the slice of the parsed text a node was built from. A node's
  origin can be narrower than the node (``Sort`` covers only ``ORDER
  BY``, ``In`` only ``IN (...)``), so the span is widened over the node's
  first-child chain.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# field holding the multi-part name, by unresolved leaf node
_NAME_FIELD = {
    "UnresolvedRelation": "multipartIdentifier",
    "UnresolvedTable": "multipartIdentifier",
    "UnresolvedTableOrView": "multipartIdentifier",
    "UnresolvedNamespace": "multipartIdentifier",
    "UnresolvedIdentifier": "nameParts",
    "UnresolvedProcedure": "nameParts",
    "UnresolvedAttribute": "nameParts",
    "UnresolvedFunction": "nameParts",
}
INTEGRAL = {"byte", "short", "integer", "long"}


def _parser(spark: SparkSession):
    return spark._jsparkSession.sessionState().sqlParser()


def parse_plan(spark: SparkSession, text: str):
    """Spark's parse of one statement; raises ``ParseException``."""
    return _parser(spark).parsePlan(text)


def parse_expression(spark: SparkSession, text: str):
    return _parser(spark).parseExpression(text)


def substitute(spark: SparkSession, text: str) -> str:
    """Spark's ``${var}`` substitution, which its parser applies before
    it parses: node origins index the substituted text."""
    if "${" not in text:
        return text
    return spark._jvm.org.apache.spark.sql.internal.VariableSubstitution().substitute(
        text
    )


def seq(s) -> list:
    """A Scala Seq as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def opt(o):
    """A Scala Option's value, or None."""
    return o.get() if o.isDefined() else None


def scala_dict(m) -> dict:
    """A Scala Map as a Python dict."""
    return {p._1(): p._2() for p in seq(m.toSeq())}


def name_of(node) -> str | None:
    """Dotted name of an unresolved relation/table/identifier/function
    node; None for any other node."""
    field = _NAME_FIELD.get(node.nodeName())
    return getattr(node, field)().mkString(".") if field else None


def column(expr) -> str | None:
    """The bare name of a single-part column reference, else None."""
    if expr.nodeName() != "UnresolvedAttribute":
        return None
    parts = expr.nameParts()
    return parts.apply(0) if parts.size() == 1 else None


def last_part(expr) -> str:
    """Last name part of a column reference (assignment keys)."""
    return expr.nameParts().last()


def relation(node) -> tuple[str | None, str | None]:
    """(table name, alias) of a possibly aliased relation; the name is
    None when the aliased child is a query."""
    alias = None
    if node.nodeName() == "SubqueryAlias":
        alias, node = node.alias(), node.child()
    return name_of(node), alias


def target(plan) -> str | None:
    """Name of the table/namespace/procedure a statement names: its
    first child (every handled command but INSERT keeps it there)."""
    return relation(plan.children().apply(0))[0]


def conjuncts(expr, kind: str = "And") -> list:
    """Operands of a chain of ``kind`` (And/Or) nodes, in order."""
    if expr.nodeName() != kind:
        return [expr]
    return conjuncts(expr.left(), kind) + conjuncts(expr.right(), kind)


def span(text: str, node) -> str:
    """The text ``node`` was parsed from, widened over its first-child
    chain so ``ORDER BY``-only and ``IN (...)``-only origins still cover
    the whole query or predicate."""
    start = stop = None
    while node is not None:
        o = node.origin()
        if o.startIndex().isDefined():
            a, b = o.startIndex().get(), o.stopIndex().get()
            start = a if start is None else min(start, a)
            stop = b if stop is None else max(stop, b)
        children = node.children()
        node = children.apply(0) if children.size() else None
    return text[start : stop + 1]


class Patterns:
    """Tree-pattern bits the front end tests: one Py4J call per check
    (``containsPattern`` reads bits cached over the whole subtree,
    expressions included) instead of a walk over the tree."""

    def __init__(self, spark: SparkSession) -> None:
        tp = getattr(
            getattr(spark._jvm.org.apache.spark.sql.catalyst.trees, "TreePattern$"),
            "MODULE$",
        )
        self.subquery = tp.PLAN_EXPRESSION()
        self.lambda_ = tp.LAMBDA_FUNCTION()

    def has_subquery(self, node) -> bool:
        return node.containsPattern(self.subquery)


def expr_text(patterns: Patterns, text: str, expr) -> str:
    """SQL text of an expression: Spark's rendering, or the source span
    when it holds a subquery or lambda (which do not render)."""
    if patterns.has_subquery(expr) or expr.containsPattern(patterns.lambda_):
        return span(text, expr)
    return expr.sql()


def literal(expr):
    """(type name, text) of a literal, or None for any other node.
    A leading minus is folded into the literal by the parser."""
    if expr.nodeName() != "Literal":
        return None
    return expr.dataType().typeName(), expr.toString()
