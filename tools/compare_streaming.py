"""Script-3 streaming parity: the reference's run loop against a LOCAL
socket feeding the events fixture, diffed against the batch operators.

Replicates the structure of the reference's streaming entry point
(big_data_computing_3.py:62-106): a socket text stream of one integer
per line, per-micro-batch driver-state updates with the batch-granular
stop-at-n cutoff, then the three printed reports (exact / reservoir /
sticky with +/- truth flags, big_data_computing_3.py:110-137). The
remote course host the reference hardcodes (algo.dei.unipd.it) is
replaced by a local server feeding the `events` fixture in seq order.

Parity contract (the fidelity trade documented in operators/frequent.py):
- the EXACT report must be bit-identical to the batch t4 operator;
- the reservoir/sticky reports must be bit-identical to the batch t5/t6
  operators run on the same prefix, because the engine's samplers use a
  counter-based PRNG keyed by arrival position. (The reference's own
  samplers use an unseeded stateful RNG, so no two of *its* runs agree;
  item-level parity with the reference is undefined by construction.)

Usage: python tools/compare_streaming.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import socket
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from big_data_computing__spark.operators import frequent as fr
from big_data_computing__spark.session import get_session
from big_data_computing__spark.sources.readers import event_stream_table
from big_data_computing__spark.streaming.frequent_stream import (
    SamplerState,
    collect_in_arrival_order,
    socket_items,
)

PHI, EPSILON, DELTA, SEED = 0.008, 0.003, 0.1, 42


class _LineServer(threading.Thread):
    def __init__(self, items: list[int]):
        super().__init__(daemon=True)
        self.items = items
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.port = self.sock.getsockname()[1]
        self.sock.listen(1)

    def run(self) -> None:
        try:
            conn, _ = self.sock.accept()
            conn.sendall("".join(f"{i}\n" for i in self.items).encode())
            time.sleep(60)
            conn.close()
        except OSError:
            pass


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session()
    stream_tbl = event_stream_table(spark, sf_dir).orderBy("seq")
    items = [r["item"] for r in stream_tbl.collect()]
    n = len(items)
    print(f"INPUT PROPERTIES\nn = {n} phi = {PHI} epsilon = {EPSILON} "
          f"delta = {DELTA} port = local")

    server = _LineServer(items)
    server.start()

    state = SamplerState(
        n=n, phi=PHI, epsilon=EPSILON, delta=DELTA, seed=SEED
    )
    lock = threading.Lock()
    counter = [0]

    stream = socket_items(spark, "127.0.0.1", server.port)

    def on_batch(batch_df, _epoch):
        rows = collect_in_arrival_order(batch_df)
        with lock:
            batch = []
            for item in rows:
                counter[0] += 1
                batch.append((counter[0], item))
            state.update(batch)

    import tempfile

    query = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    deadline = time.time() + 120
    while not state.stopped and time.time() < deadline:
        time.sleep(0.2)
    query.stop()
    query.awaitTermination(30)
    assert state.processed == n, (state.processed, n)

    # -- the reference's three reports, from the streaming state --
    truth = state.true_frequent()
    truth_set = set(truth)
    print("EXACT ALGORITHM")
    print(f"Number of items in the data structure = {state.processed}")
    print(f"Number of true frequent items = {len(truth)}")
    res_items = state.reservoir_items()
    print("RESERVOIR SAMPLING")
    print(f"Size m of the sample = {state.m}")
    print(f"Number of estimated frequent items = {len(res_items)}")
    sticky = state.sticky_frequent()
    print("STICKY SAMPLING")
    print(f"Number of items in the Hash Table = {len(state.sticky)}")
    print(f"Number of estimated frequent items = {len(sticky)}")

    # -- batch operators on the same data --
    batch_t4 = {
        (r["item"], r["cnt"])
        for r in fr.true_frequent_items(stream_tbl, PHI).collect()
    }
    batch_t5 = {
        (r["item"], r["flag"])
        for r in fr.reservoir_report(stream_tbl, PHI, SEED).collect()
    }
    batch_t6 = {
        (r["item"], r["est_cnt"], r["flag"])
        for r in fr.sticky_report(
            stream_tbl, n, PHI, EPSILON, DELTA, SEED
        ).collect()
    }

    stream_t4 = {(i, state.counts[i]) for i in truth}
    stream_t5 = {
        (i, "+" if i in truth_set else "-") for i in res_items
    }
    stream_t6 = {
        (i, c, "+" if i in truth_set else "-") for i, c in sticky
    }

    ok = True
    for name, s, b in (
        ("exact/t4", stream_t4, batch_t4),
        ("reservoir/t5", stream_t5, batch_t5),
        ("sticky/t6", stream_t6, batch_t6),
    ):
        match = s == b
        ok &= match
        print(
            f"PARITY {name}: streaming={len(s)} batch={len(b)} "
            f"identical={match}"
        )
        if not match:
            print("  stream-only:", sorted(s - b)[:5])
            print("  batch-only:", sorted(b - s)[:5])
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
