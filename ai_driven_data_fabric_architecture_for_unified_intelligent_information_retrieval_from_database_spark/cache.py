"""The package's one bounded, locked, least-recently-used cache: the
engine's result cache, the process-wide catalog caches, the cost gates'
COUNT-probe memo and PageRank's key-pack verdicts."""

from __future__ import annotations

import threading
import time
from collections import OrderedDict
from typing import Any

#: Reference cache policy (datafabric/settings.py:93-103, core/views.py:26-42).
CACHE_TTL_SECONDS = 300
CACHE_MAX_ENTRIES = 1000


class TTLCache:
    """TTL'd map with LRU-ish culling — the LocMemCache semantics the
    reference configures (MAX_ENTRIES=1000). Locked: ``api.serve`` runs
    requests on concurrent threads. ``ttl=math.inf`` makes it a plain
    bounded LRU."""

    def __init__(self, ttl: float = CACHE_TTL_SECONDS, max_entries: int = CACHE_MAX_ENTRIES):
        self.ttl = ttl
        self.max_entries = max_entries
        self._store: OrderedDict[Any, tuple[float, Any]] = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key: Any, now: float | None = None) -> Any | None:
        now = time.time() if now is None else now
        with self._lock:
            hit = self._store.get(key)
            if hit is None:
                return None
            expires, value = hit
            if now >= expires:
                del self._store[key]
                return None
            self._store.move_to_end(key)
            return value

    def set(self, key: Any, value: Any, now: float | None = None) -> None:
        now = time.time() if now is None else now
        with self._lock:
            if key in self._store:
                self._store.move_to_end(key)
            elif len(self._store) >= self.max_entries:
                # Cull a third, oldest-first (CULL_FREQUENCY=3 semantics).
                for _ in range(max(1, self.max_entries // 3)):
                    if not self._store:
                        break
                    self._store.popitem(last=False)
            self._store[key] = (now + self.ttl, value)

    def clear(self) -> None:
        with self._lock:
            self._store.clear()

    def __len__(self) -> int:
        return len(self._store)
