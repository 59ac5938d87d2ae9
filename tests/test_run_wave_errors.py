"""A wave that fails must not leak its worker threads.

``run_wave`` starts a one-thread warm pool and a five-thread next-state
fan-out pool.  When a state branch raises (here stage V, the image
check), the exception must reach the caller and both pools must be shut
down, so their worker threads exit instead of idling for as long as the
engine lives.
"""

from __future__ import annotations

import threading
import time

import pytest

from auto_ria_spark.config import CrawlConfig
from auto_ria_spark.plans.crawl import CrawlEngine
from auto_ria_spark.sources import worldgen


def _pool_threads() -> set[threading.Thread]:
    return {t for t in threading.enumerate()
            if t.name.startswith("ThreadPoolExecutor")}


def test_failed_wave_releases_its_executor_threads(spark, tmp_path,
                                                   monkeypatch):
    cfg = CrawlConfig(host_budget=5, phone_budget=5, backoff_base_s=1,
                      num_shards=4, shuffle_partitions=8)
    world = worldgen.build_world_local(1, 20, 7)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), cfg,
                      pages=worldgen.pages_local_df(spark, world))
    eng.start(worldgen.seed_rows(1))

    def boom(self, saved_rows, wave):
        raise RuntimeError("stage V failed")

    monkeypatch.setattr(CrawlEngine, "_verify_images", boom)
    before = _pool_threads()
    # the engine (holding the warm closure) and the traceback (holding
    # the wave's frames) both stay alive while the threads are checked,
    # so an un-shut-down pool cannot be rescued by garbage collection
    with pytest.raises(RuntimeError, match="stage V failed") as err:
        eng.run_wave(0)
    leaked = _pool_threads() - before
    # a shut-down pool's workers finish their queued warm counts and
    # exit; a leaked pool's idle workers block forever
    deadline = time.monotonic() + 120
    for t in leaked:
        t.join(timeout=max(0.0, deadline - time.monotonic()))
    alive = [t.name for t in leaked if t.is_alive()]
    assert not alive, f"wave executor threads still alive: {alive}"
    assert err.type is RuntimeError
