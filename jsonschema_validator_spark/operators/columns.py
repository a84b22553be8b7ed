"""Column-expression helpers shared by the operator modules."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(val: Column, body) -> Column:
    """``body(v)`` with ``val`` bound to the lambda variable ``v``, written
    ``element_at(transform(array(val), body), 1)``.

    ``body`` may reference ``v`` many times while ``val`` is EVALUATED
    ONCE per row. Without the binding every reference is a copy of the
    subtree, and because higher-order functions are CodegenFallback the
    projection gets no common-subexpression elimination: each copy runs
    again per row (a tokenizer inside a per-shingle ``transform`` ran once
    per shingle, a per-plane dot once per probe). The body is also built
    once on the driver, not once per reference.
    """
    return F.element_at(F.transform(F.array(val), body), 1)
