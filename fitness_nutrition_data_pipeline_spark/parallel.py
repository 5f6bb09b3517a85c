"""Shared pooled-declaration helper (review r12: the env-toggled
ThreadPool pattern was copy-pasted across dimensions/facts/resolution
and would drift).

DataFrame DECLARATION is driver-side py4j + JVM-side Catalyst analysis:
the py4j calls release the GIL and the JVM analyzes on whatever thread
calls it, so independent DAG builds parallelize on a small thread pool.
Results keep the BUILDER-LIST order, not completion order, so downstream
iteration stays deterministic; the first builder exception propagates.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence


def declare_parallel(
    builders: Sequence[tuple[str, Callable[[], object]]],
    max_workers: int = 4,
) -> dict[str, object]:
    """Run named zero-arg builders on a thread pool (inline for one)."""
    if len(builders) <= 1:
        return {name: fn() for name, fn in builders}
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = [(name, pool.submit(fn)) for name, fn in builders]
        return {name: fut.result() for name, fut in futures}
