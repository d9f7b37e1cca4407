"""The one rule that turns family modules into the query registry.

A registry key is a function defined in a family module (its
``__module__`` is that module) whose name matches ``KEY_NAME``:
``q<n>_…`` relational/format keys, ``x_…`` extension keys and
``s<n>_…`` streaming keys. Helpers, imported names and oracle
fragments never match, so adding a key is defining it — there is no
list to keep in step.

Families are merged with ``merge_disjoint``, which refuses a key seen
in two families instead of letting one silently shadow the other.
"""

from __future__ import annotations

import inspect
import re
from collections.abc import Callable, Iterable, Mapping
from types import ModuleType

KEY_NAME = re.compile(r"(q\d+|s\d+|x)_\w+")


def family_queries(module: ModuleType) -> dict[str, Callable]:
    """Every registry key ``module`` defines, in definition order."""
    return {
        name: fn
        for name, fn in vars(module).items()
        if inspect.isfunction(fn)
        and fn.__module__ == module.__name__
        and KEY_NAME.fullmatch(name)
    }


def merge_disjoint(families: Iterable[Mapping], what: str) -> dict:
    """Concatenate ``families`` in order; a key in two of them raises."""
    out: dict = {}
    for fam in families:
        dup = out.keys() & fam.keys()
        if dup:
            raise KeyError(f"duplicate {what} keys across families: {sorted(dup)}")
        out.update(fam)
    return out
