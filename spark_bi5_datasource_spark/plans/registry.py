"""The query catalog's one registry.

Every catalog module registers its queries with ``query``; the
package ``__init__`` imports the modules in a fixed order, so
``REGISTRY`` holds the entries in registration order.  ``plans.CATALOG``
is this dict reordered for the driver window."""

from __future__ import annotations

# name -> (fn, oracle_sql | None), in registration order
REGISTRY: dict[str, tuple] = {}


def query(name: str, sql: str | None):
    """Decorator: register ``fn`` as catalog query ``name`` with its
    DuckDB oracle ``sql`` (None when the output has no SQL twin).  A
    name registers once."""

    def wrap(fn):
        if name in REGISTRY:
            raise ValueError(f"catalog query {name!r} is already registered")
        REGISTRY[name] = (fn, sql)
        return fn

    return wrap
