"""Load generator for the tcp-service workload: one phase per invocation.

Sends 200-byte telemetry frames (u16 length, u16 type, 196-byte body) to the
service's TCP southbound over two connections. Each body starts with
three little-endian u64s: the phase tag, the frame's sequence number and its
due time (wall-clock microseconds); the rest is seeded alphanumeric filler.
A seeded share of frames are heartbeats (type 0), the rest dyn messages
(type 1), and a seeded share repeat an earlier frame of the phase byte for
byte (same sequence number, same due time).

    --rate R     frames are due at R per second from the phase start
                 (open loop: a late sender does not push due times back)
    --rate 0     the burst phase: every frame is due at the phase start and
                 goes out as fast as the sockets take it

Writes `<manifest>.npz`: per sent frame the sequence number carried and the
frame type, plus the phase start and the sender's lateness per frame.

    python3 perfbench/tcpgen.py --port 7200 --seed 3 --tag 1 --seq0 0 \
        --frames 10000 --rate 1000 --start-us <µs> --hb-share 0.3 --dup-share 0.1 \
        --dup-window 2000 --manifest run/steady
"""
import argparse
import socket
import threading
import time

import numpy as np

FRAME = 200
CONNECTIONS = 2
BODY = FRAME - 4
FRAME_DTYPE = np.dtype([("len", "<u2"), ("type", "<u2"), ("tag", "<u8"), ("seq", "<u8"),
                        ("due", "<u8"), ("fill", "u1", (BODY - 24,))])
ALNUM = np.frombuffer(b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789", np.uint8)


def now_us() -> int:
    return time.time_ns() // 1000


def build(seed, tag, seq0, n, hb_share, dup_share, dup_window):
    """Frames without due times, and for each frame the index it copies."""
    rng = np.random.default_rng([seed, tag])
    f = np.zeros(n, FRAME_DTYPE)
    f["len"] = FRAME
    f["type"] = (rng.random(n) >= hb_share).astype(np.uint16)
    f["tag"] = tag
    f["seq"] = seq0 + np.arange(n, dtype=np.uint64)
    f["fill"] = ALNUM[rng.integers(0, len(ALNUM), (n, BODY - 24))]
    src = np.arange(n)
    dup = rng.random(n) < dup_share
    dup[0] = False
    back = rng.integers(1, dup_window + 1, n)
    for i in np.nonzero(dup)[0]:
        src[i] = src[max(0, i - back[i])]
    return f, src


def main():
    ap = argparse.ArgumentParser(description="tcp-service load generator (one phase)")
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--tag", type=int, required=True)
    ap.add_argument("--seq0", type=int, required=True)
    ap.add_argument("--frames", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--hb-share", type=float, required=True)
    ap.add_argument("--dup-share", type=float, required=True)
    ap.add_argument("--dup-window", type=int, required=True)
    ap.add_argument("--start-us", type=int, required=True,
                    help="wall-clock µs at which the phase starts")
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--stream-out", default="", help="also write the sent bytes to this file")
    a = ap.parse_args()

    f, src = build(a.seed, a.tag, a.seq0, a.frames, a.hb_share, a.dup_share, a.dup_window)
    socks = [socket.create_connection(("127.0.0.1", a.port)) for _ in range(CONNECTIONS)]
    for s in socks:
        s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    start = a.start_us
    if a.rate > 0:
        sched = start + (np.arange(a.frames) * (1e6 / a.rate)).astype(np.int64)
    else:
        sched = np.full(a.frames, start, np.int64)
    f["due"] = sched.astype(np.uint64)
    f = f[src]  # repeats copy their original's bytes, due time included
    buf = f.tobytes()
    lag = np.zeros(a.frames, np.int64)

    if a.rate > 0:
        sent, turn = 0, 0
        while sent < a.frames:
            t = now_us()
            due = int(np.searchsorted(sched, t, side="right"))
            if due > sent:
                socks[turn % len(socks)].sendall(buf[sent * FRAME:due * FRAME])
                lag[sent:due] = now_us() - sched[sent:due]
                sent, turn = due, turn + 1
            else:
                time.sleep(max(0.0, min(0.001, (sched[sent] - t) / 1e6)))
    else:
        while now_us() < start:
            time.sleep(0.0005)
        parts = np.array_split(np.arange(a.frames), len(socks))

        def pump(s, idx):
            if len(idx):
                lo, hi = int(idx[0]) * FRAME, (int(idx[-1]) + 1) * FRAME
                for off in range(lo, hi, 1 << 20):
                    s.sendall(buf[off:min(hi, off + (1 << 20))])
        threads = [threading.Thread(target=pump, args=(s, p)) for s, p in zip(socks, parts)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        lag[:] = now_us() - start
    end = now_us()
    for s in socks:
        s.shutdown(socket.SHUT_WR)
        s.close()
    if a.stream_out:
        with open(a.stream_out, "ab") as out:
            out.write(buf)
    np.savez(a.manifest, seq=f["seq"].astype(np.int64), type=f["type"].astype(np.int64),
             start=np.int64(start), end=np.int64(end), lag=lag)


if __name__ == "__main__":
    main()
