"""Prepared expressions: build a plan's Columns once, reuse them.

Every PySpark ``F.*`` call and Column operator is a Python -> JVM round
trip, and PySpark 4 adds a few more per call to record its call site. A
micro-batch engine that rebuilds the same projections on every trigger
pays that on every trigger, for an identical plan. :class:`Prepared`
keeps ONE entry per call site, keyed by the VALUE of the site's inputs
(schema JSON, rule set, bucket count, ...): a trigger with the same key
reuses the built expressions, a changed key (evolved schema, rebucket)
rebuilds them. Each owner (a ``CdcEngine``, a ``LakeTable``) holds its
own instance. Never key by ``id()`` and never cache at module level:
Column objects belong to one JVM, and one process may start several
sessions.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any


class Prepared:
    def __init__(self) -> None:
        self._sites: dict[str, tuple[Any, Any]] = {}

    def get(self, site: str, key: Any, build: Callable[[], Any]) -> Any:
        """The value built for ``site`` under ``key``; ``build()`` runs
        on first use and whenever ``key`` differs from the stored one."""
        hit = self._sites.get(site)
        if hit is None or hit[0] != key:
            hit = (key, build())
            self._sites[site] = hit
        return hit[1]
