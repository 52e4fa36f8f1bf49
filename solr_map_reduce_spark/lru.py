"""The one bounded memo of the read side.

A long-lived serving process sees an unbounded stream of distinct queries,
so every memo keyed by query content (term dfs, fuzzy expansions, compiled
plans, Bloom positions) is an :class:`LRU`.
"""

from __future__ import annotations

from collections import OrderedDict


class LRU(OrderedDict):
    """A dict of at most ``cap`` entries: a lookup touches its entry, and an
    insert past the cap evicts the least recently used one.  ``cap`` is a
    plain attribute, so a handle can retune it; ``clear()`` keeps it."""

    def __init__(self, cap: int):
        super().__init__()
        self.cap = cap

    def __getitem__(self, key):
        value = super().__getitem__(key)
        self.move_to_end(key)
        return value

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.move_to_end(key)
        while len(self) > self.cap:
            self.popitem(last=False)
