"""Query-catalog modules; importing them registers named queries.

``annotation`` registers before any other module, whichever one is
imported first, so its entries lead each ``since`` group
(see :func:`virapipe_spark.catalog.load_all`)."""

from virapipe_spark.queries import annotation  # noqa: F401
