"""Query/oracle registry for the driver contract.

Importing the family modules registers their rows with
:mod:`._registry`; this module re-exports the registry surface that
``__spark_entry__``, the bench and the tools use."""

from . import (  # noqa: F401 — imported to register their rows
    ann,
    audio,
    dedup,
    media,
    ohsome_api,
    osm_contrib,
    relational,
    streaming,
    text,
    web,
)
from ._registry import QUERIES, all_oracles, all_queries  # noqa: F401
from .osm_contrib import contrib_nodes  # noqa: F401
