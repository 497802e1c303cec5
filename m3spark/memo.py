"""The one memo for built Column expressions.

Column trees reference input columns by name and carry no data or plan
state, so re-validating a same-shaped input reuses them instead of
re-issuing thousands of py4j construction calls.  Expressions only:
every call still plans and computes from its input.  The key is
(live SparkContext, owner, ordered input dtypes, output names): an
entry built under a stopped context, or for a different column order,
is never returned."""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable, Iterable

from pyspark import SparkContext

MAXSIZE = 64
_MEMO: OrderedDict = OrderedDict()
_LOCK = threading.Lock()


def expr_memo(owner: Hashable, dtypes: Iterable[tuple[str, str]],
              outputs: tuple, build: Callable[[], Any]) -> Any:
    """``build()``, memoized per (SparkContext, ``owner``, ordered
    ``dtypes`` as in ``DataFrame.dtypes``, ``outputs``); least recently
    used entries are evicted beyond ``MAXSIZE``."""
    sc = SparkContext._active_spark_context
    key = (sc and sc.applicationId, owner, tuple(dtypes), outputs)
    with _LOCK:
        if key in _MEMO:
            _MEMO.move_to_end(key)
            return _MEMO[key]
    value = build()
    with _LOCK:
        _MEMO[key] = value
        if len(_MEMO) > MAXSIZE:
            _MEMO.popitem(last=False)
    return value
