"""Open-loop event generator for the `stream` workload.

One process, one thread, one connection to the engine's `graft-connector`
listener, speaking the connector wire protocol (4-byte big-endian length,
1-byte tag, payload). Events are sent on a schedule fixed in advance from
the seed, whatever the engine does: a stalled engine makes the generator
run late, and that lateness is part of every latency measured, because
each event's creation stamp is its scheduled send time, not its actual one.

Each event replays one `(user_id, value)` row of the `replay` table (the
catalog's `events.parquet`), in table order from a seeded start row,
wrapping around; the value is sent in cents.

Phases, in order:
  * one segment per configured rate (Poisson arrivals at that rate); a
    seeded share of these events is late: its event time lies before the
    run began, inside the engine's admit horizon but behind its watermark;
  * a burst of events all due at once, sent as fast as credits allow;
  * one sentinel event far ahead in event time, so every window closes.
The generator then waits until the engine has acknowledged every event,
and writes the events it sent (parquet) and a summary (JSON).

    python3 perfbench/streamgen.py --config <cfg.json> --port <port>
"""
import argparse
import json
import select
import socket
import struct
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TAG_HELLO, TAG_OK, TAG_NOTIFY, TAG_NOTIFY_ACK, TAG_MESSAGE, TAG_ACK = 0, 1, 3, 4, 5, 6
STREAM_ID = 7
SENTINEL_USER = -2
SEND_BATCH = 256


def frame(tag, payload):
    return struct.pack(">iB", len(payload) + 1, tag) + payload


def short_str(s):
    b = s.encode()
    return struct.pack(">H", len(b)) + b


class Conn:
    """The socket plus a frame reader that tracks credits and acked por."""

    def __init__(self, port):
        self.sock = socket.create_connection(("localhost", port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = b""
        self.credits = 0
        self.acked = 0

    def read_frames(self, timeout):
        """Read whatever frames arrive within `timeout` seconds."""
        ready, _, _ = select.select([self.sock], [], [], max(timeout, 0.0))
        if not ready:
            return []
        chunk = self.sock.recv(1 << 16)
        if not chunk:
            raise ConnectionError("engine closed the connection")
        self.buf += chunk
        frames = []
        while len(self.buf) >= 4:
            (n,) = struct.unpack(">i", self.buf[:4])
            if len(self.buf) < 4 + n:
                break
            body, self.buf = self.buf[4:4 + n], self.buf[4 + n:]
            frames.append((body[0], body[1:]))
            if body[0] == TAG_ACK:
                credits, count = struct.unpack(">ii", body[1:9])
                self.credits += credits
                for i in range(count):
                    sid, por = struct.unpack(">qq", body[9 + 16 * i:25 + 16 * i])
                    if sid == STREAM_ID:
                        self.acked = max(self.acked, por)
        return frames

    def expect(self, tag, timeout=30.0):
        deadline = time.time() + timeout
        while time.time() < deadline:
            for t, payload in self.read_frames(deadline - time.time()):
                if t == tag:
                    return payload
        raise TimeoutError(f"no frame with tag {tag}")

    def handshake(self):
        self.sock.sendall(frame(TAG_HELLO, short_str("0.0.1") + short_str("")
                                + short_str("perfbench") + short_str("generator")))
        (self.credits,) = struct.unpack(">i", self.expect(TAG_OK)[:4])
        self.sock.sendall(frame(TAG_NOTIFY, struct.pack(">q", STREAM_ID)
                                + short_str("events") + struct.pack(">q", 0)))
        self.expect(TAG_NOTIFY_ACK)


def plan(cfg, t0_ms):
    """The whole event schedule, fixed by the seed before anything is sent."""
    rng = np.random.default_rng(cfg["seed"])
    start_s = t0_ms // 1000
    due, seg, late = [], [], []
    segments, t = [], float(t0_ms)
    for i, (name, rate, secs) in enumerate(cfg["segments"]):
        n = int(rate * secs)
        times = t + np.cumsum(rng.exponential(1000.0 / rate, n))
        times = times[times < t + secs * 1000.0]
        segments.append({"name": name, "rate": rate, "start_ms": t,
                         "end_ms": t + secs * 1000.0, "events": int(len(times))})
        due.append(times)
        seg.append(np.full(len(times), i))
        late.append(rng.random(len(times)) < cfg["late_share"])
        t += secs * 1000.0
    burst_ms = t + cfg["burst_gap_ms"]
    due.append(np.full(cfg["burst_events"], burst_ms))
    seg.append(np.full(cfg["burst_events"], len(cfg["segments"])))
    late.append(np.zeros(cfg["burst_events"], dtype=bool))
    due, seg, late = np.concatenate(due), np.concatenate(seg), np.concatenate(late)
    n = len(due)
    created = np.floor(due).astype(np.int64)
    src = pq.read_table(cfg["replay"], columns=["user_id", "value"])
    rows = (int(rng.integers(0, src.num_rows)) + np.arange(n)) % src.num_rows
    users = src.column("user_id").to_numpy()[rows]
    cents = np.round(src.column("value").to_numpy() * 100).astype(np.int64)[rows]
    ts = created // 1000
    # late events: a window before the run began, one per (user, window)
    # so that whether or not the engine sees it as late, the result is a
    # singleton window
    used = set()
    for i in np.flatnonzero(late):
        k = int(rng.integers(2, cfg["late_horizon_s"]))
        while (int(users[i]), start_s - k) in used:
            k += 1
        used.add((int(users[i]), start_s - k))
        ts[i] = start_s - k
    return {"due": due, "created": created, "user": users, "cents": cents,
            "ts": ts, "late": late, "segment": seg, "segments": segments,
            "burst_ms": burst_ms}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    ap.add_argument("--port", type=int, required=True)
    args = ap.parse_args()
    cfg = json.load(open(args.config))
    conn = Conn(args.port)
    conn.handshake()
    t0_ms = (time.time() + cfg["lead_s"]) * 1000.0
    p = plan(cfg, t0_ms)
    n = len(p["due"])
    payloads = [f"{u},{c},{m}".encode() for u, c, m in
                zip(p["user"].tolist(), p["cents"].tolist(), p["created"].tolist())]
    ts = p["ts"].tolist()
    due_s = (p["due"] / 1000.0).tolist()
    sent_ms = np.zeros(n)
    stall_s = 0.0
    i = 0
    while i < n:
        now = time.time()
        if now < due_s[i]:
            conn.read_frames(due_s[i] - now)
            continue
        if conn.credits <= 0:
            t = time.time()
            while conn.credits <= 0:
                conn.read_frames(1.0)
            stall_s += time.time() - t
            continue
        out = []
        j = i
        while j < n and j - i < min(SEND_BATCH, conn.credits) and due_s[j] <= now:
            out.append(frame(TAG_MESSAGE, struct.pack(">qqqH", STREAM_ID, j + 1, ts[j], 0)
                             + payloads[j]))
            j += 1
        conn.sock.sendall(b"".join(out))
        conn.credits -= j - i
        sent_ms[i:j] = time.time() * 1000.0
        i = j
        conn.read_frames(0.0)
    # the sentinel closes every open window, then wait for the final ack
    sentinel_ts = int(p["burst_ms"] // 1000) + 5
    conn.sock.sendall(frame(TAG_MESSAGE, struct.pack(">qqqH", STREAM_ID, n + 1, sentinel_ts, 0)
                            + f"{SENTINEL_USER},0,{int(time.time() * 1000)}".encode()))
    deadline = time.time() + cfg["ack_timeout_s"]
    while conn.acked < n + 1 and time.time() < deadline:
        conn.read_frames(0.2)
    conn.sock.close()

    on_schedule = p["segment"] < len(p["segments"])
    late_ms = (sent_ms - p["due"])[on_schedule]
    pq.write_table(pa.table({
        "por": np.arange(1, n + 1, dtype=np.int64), "user": p["user"], "ts": p["ts"],
        "cents": p["cents"], "created": p["created"], "late": p["late"],
        "segment": p["segment"].astype(np.int32), "sent_ms": sent_ms}), cfg["events_out"])
    summary = {
        "events": n, "acked": conn.acked, "all_acked": conn.acked >= n + 1,
        "segments": p["segments"], "burst_ms": p["burst_ms"],
        "burst_events": cfg["burst_events"], "credit_stall_ms": stall_s * 1000.0,
        "late_ms_p99": float(np.percentile(late_ms, 99)) if len(late_ms) else 0.0,
        "late_ms_max": float(late_ms.max()) if len(late_ms) else 0.0,
    }
    with open(cfg["summary_out"], "w") as f:
        json.dump(summary, f)


if __name__ == "__main__":
    main()
