"""Solr function-query primitives (ValueSource parser names).

The reference delegates its whole query surface to the destination
collection's ``/select`` handler (``semantic_base_config.zip ->
solrconfig.xml:650-670``). Its ``boost=`` (edismax multiplicative) and
``bf=`` (dismax additive) params take a function of stored fields; these
are the functions — ``recip``, ``linear``, ``log``, ``sqrt``, ``pow``,
``abs`` — as pure JVM column expressions. Pass one as
``select(boost=..., boost_mode=...)``; ``select`` joins it onto the
already-reduced match set, never onto postings. Rerank, collapse and
elevation are ``select`` stages too (``operators/select.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def recip(x: Column, m: float, a: float, b: float) -> Column:
    """Solr ``recip(x,m,a,b)`` = a / (m*x + b). The standard recency /
    magnitude dampener (a=b -> max value 1.0 at x=0)."""
    return F.lit(float(a)) / (F.lit(float(m)) * x.cast("double") + F.lit(float(b)))


def linear(x: Column, m: float, c: float) -> Column:
    """Solr ``linear(x,m,c)`` = m*x + c."""
    return F.lit(float(m)) * x.cast("double") + F.lit(float(c))


def fq_log(x: Column) -> Column:
    """Solr ``log(x)`` — base-10, like Lucene's LogFloatFunction."""
    return F.log10(x.cast("double"))


def fq_sqrt(x: Column) -> Column:
    return F.sqrt(x.cast("double"))


def fq_pow(x: Column, p: float) -> Column:
    return F.pow(x.cast("double"), F.lit(float(p)))


def fq_abs(x: Column) -> Column:
    return F.abs(x.cast("double"))
