"""Query plans as SQL text, parsed in one JVM call.

Every PySpark Column or DataFrame method is at least one py4j round trip, and
a Column tree pays per node: ``F.col`` alone is about 19 round trips, a
per-query ``pandas_udf`` about 30.  Lowering a query through the Column DSL
therefore cost hundreds of round trips before Spark did any work.

A :class:`Rel` holds a relation as SQL text instead.  The DataFrames it reads
are ``{name}`` placeholders bound in ``Rel.args``; :meth:`Rel.df` hands the
whole text to one ``spark.sql`` call (about 5 round trips, plus 2 per bound
DataFrame, which is a temporary view for the statement, and 2 to reach the
catalog that drops the views).  Composition is string work on the driver.  The generated text
never contains a brace other than a placeholder.

Python UDFs are registered once per session under a fixed name
(:func:`sql_udf`) and called by that name from the text, with per-query
constants passed as literal arguments.  Large constants, such as the
256-entry scoring tables, are declared once as session variables
(:func:`sql_constant`) and named in the text instead of rendered into it.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType


class Rel:
    """A relation as SQL text: ``text`` may follow ``FROM`` (a placeholder or
    a parenthesized query) and reads the DataFrames in ``args``."""

    __slots__ = ("text", "args")

    def __init__(self, text: str, args: dict | None = None):
        self.text = text
        self.args = args or {}

    @classmethod
    def of(cls, df: DataFrame) -> "Rel":
        name = f"_r{id(df)}"
        return cls(f"{{{name}}}", {name: df})

    def query(self, select: str, tail: str = "") -> "Rel":
        """``(SELECT <select> FROM <self> <tail>)`` — ``tail`` holds any
        WHERE / GROUP BY / ORDER BY / LIMIT clauses."""
        return Rel(f"(SELECT {select} FROM {self.text} {tail})", self.args)

    def join(self, other: "Rel", using: str) -> "Rel":
        """The inner join of ``self`` and ``other`` on the ``using`` columns."""
        return Rel(
            f"(SELECT * FROM {self.text} JOIN {other.text} USING ({using}))",
            {**self.args, **other.args},
        )

    def df(self, spark: SparkSession) -> DataFrame:
        """The relation, parsed and analyzed in one ``spark.sql`` call.  Each
        bound DataFrame is a temporary view while the text is analyzed.  The
        views are dropped from the session catalog directly: dropping them
        through ``spark.catalog`` (as ``spark.sql``'s own formatter does)
        would also uncache any persisted DataFrame behind them."""
        views = {name: f"_lucene_{uuid.uuid4().hex}" for name in self.args}
        for name, view in views.items():
            self.args[name].createOrReplaceTempView(view)
        try:
            return spark.sql(f"SELECT * FROM {self.text}".format(**views))
        finally:
            if views:
                catalog = spark._jsparkSession.sessionState().catalog()
                for view in views.values():
                    catalog.dropTempView(view)


def union_all(rels) -> Rel:
    """The rows of every relation in ``rels``, matched by position."""
    rels = list(rels)
    args = {}
    for r in rels:
        args.update(r.args)
    return Rel(
        "(" + " UNION ALL ".join(f"SELECT * FROM {r.text}" for r in rels) + ")", args
    )


def _declared(spark: SparkSession) -> set:
    """Names this module has declared in ``spark``: UDFs and variables.  Kept
    on the session object, next to the registries they mirror."""
    return spark.__dict__.setdefault("_lucene_spark_names", set())


def sql_udf(spark: SparkSession, name: str, make) -> str:
    """``name``, after registering ``make()`` under it in ``spark`` the first
    time this session asks for it."""
    if name not in _declared(spark):
        spark.udf.register(name, make())
        _declared(spark).add(name)
    return name


def sql_constant(spark: SparkSession, text: str, dt: DataType) -> str:
    """The name of a session variable holding the constant expression
    ``text`` of type ``dt``.  A query that names the variable is analyzed
    against one literal instead of parsing and analyzing ``text`` again.
    The name is derived from ``text``, so equal constants share one
    declaration."""
    name = f"lucene_const_{hashlib.sha1(text.encode('utf-8')).hexdigest()[:24]}"
    if name not in _declared(spark):
        spark.sql(f"DECLARE OR REPLACE VARIABLE {name} {dt.simpleString()} DEFAULT {text}")
        _declared(spark).add(name)
    return name
