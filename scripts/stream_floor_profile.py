"""Per-batch floor attribution for the streaming gate slots (r15,
verdict item 6): run q_stream_sessionize / q_stream_dedup and dump each
micro-batch's StreamingQueryProgress durationMs breakdown plus the
state operators' instance counts, update and commit times, so the
artifact carries WHERE the structured-streaming wall goes (addBatch
compute vs offset-log/commit fixed cost) instead of a prose claim.

Usage: python scripts/stream_floor_profile.py [SF_DIR] [OUT_JSON]

OUT_JSON defaults to ``stream_floor.json`` under the package's scratch
root (``session.SCRATCH``).

The queries are run exactly as registered (the slot functions
themselves); progress is harvested from every active/finished stream
the session saw. The replay contracts pin the batch COUNT (two-file
late-merge for sessionize, two-batch store + replay-twice curation for
dedup), so the lever this profile arbitrates is per-batch cost only.
"""
from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from dask_awkward_sandbox_spark.plans import QUERIES
    from dask_awkward_sandbox_spark.session import SCRATCH, get_spark

    out_path = (
        sys.argv[2] if len(sys.argv) > 2 else os.path.join(SCRATCH, "stream_floor.json")
    )

    spark = get_spark("dwax-stream-floor")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {}
    for slot in ("q_stream_sessionize", "q_stream_dedup"):
        # harvest per-batch progress via a listener: the slot functions
        # run their streams to completion internally, so recentProgress
        # on the returned frame is not reachable — the listener sees
        # every batch of every stream the call starts
        from pyspark.sql.streaming import StreamingQueryListener

        batches: list[dict] = []
        started: set = set()
        ended: set = set()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                started.add(event.id)

            def onQueryProgress(self, event):
                p = event.progress
                batches.append(
                    {
                        "name": p.name,
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "durationMs": dict(p.durationMs),
                        "stateOperators": [
                            {
                                "operatorName": s.operatorName,
                                "numStateStoreInstances": s.numStateStoreInstances,
                                "numShufflePartitions": s.numShufflePartitions,
                                "allUpdatesTimeMs": s.allUpdatesTimeMs,
                                "commitTimeMs": s.commitTimeMs,
                                "numRowsTotal": s.numRowsTotal,
                                "memoryUsedBytes": s.memoryUsedBytes,
                            }
                            for s in p.stateOperators
                        ],
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                ended.add(event.id)

        listener = _L()
        spark.streams.addListener(listener)
        try:
            t0 = time.perf_counter()
            QUERIES[slot](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = round(time.perf_counter() - t0, 3)
            # listener delivery is async: wait until every started
            # stream's termination (posted after its last progress) landed
            deadline = time.monotonic() + 60
            while (not started or started - ended) and time.monotonic() < deadline:
                time.sleep(0.1)
        finally:
            spark.streams.removeListener(listener)
        tot_batches = len(batches)
        tot_addbatch = sum(b["durationMs"].get("addBatch", 0) for b in batches)
        tot_trigger = sum(
            b["durationMs"].get("triggerExecution", 0) for b in batches
        )
        out[slot] = {
            "wall_s": wall,
            "n_batches": tot_batches,
            "sum_triggerExecution_ms": tot_trigger,
            "sum_addBatch_ms": tot_addbatch,
            "non_stream_ms": round(wall * 1000 - tot_trigger),
            "batches": batches,
        }
        print(
            slot,
            "wall",
            wall,
            "batches",
            tot_batches,
            "trigger_ms",
            tot_trigger,
            "addBatch_ms",
            tot_addbatch,
            "state_instances",
            [[s["numStateStoreInstances"] for s in b["stateOperators"]] for b in batches],
            flush=True,
        )
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, default=str)
    print("written", out_path, flush=True)


if __name__ == "__main__":
    main()
