"""The timing sink of bench.py and the timing tools."""


def consume(df) -> None:
    """Run ``df`` to completion with every output column computed.

    The ``noop`` sink writes nothing, but unlike ``count()`` it keeps each
    projected column, and the UDFs behind it, in the executed plan.
    """
    df.write.format("noop").mode("overwrite").save()
