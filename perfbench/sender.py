"""Open-loop UDP generator: one thread, one socket, a fixed schedule.

Sends consecutive datagrams of an endlessly repeated TS period through a
list of rate steps, back to back: datagram ``k`` of a step starts at the
step's start plus ``k / rate`` on the system-wide monotonic clock (the
receiver computes the same schedule). Datagrams that fall due while the
sender is behind go out at once, so the schedule never stretches; how
late each one went out is reported. Stops early when the stop file
appears. Prints one JSON line on exit.

    python3 sender.py --period FILE --port N --steps RATE:COUNT,... --t0 T --stop FILE
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import time


def schedule(t0: float, steps: list[tuple[float, int]]) -> list[float]:
    """Send time of every datagram of the ladder."""
    times = []
    start = t0
    for rate, count in steps:
        times += [start + k / rate for k in range(count)]
        start += count / rate
    return times


def parse_steps(text: str) -> list[tuple[float, int]]:
    return [(float(r), int(c)) for r, c in (s.split(":") for s in text.split(","))]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--period", required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--steps", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--stop", required=True)
    a = ap.parse_args()

    from tsgen import datagram

    with open(a.period, "rb") as f:
        period = f.read()
    due = schedule(a.t0, parse_steps(a.steps))
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    late: list[float] = []
    sent_at: list[float] = []
    next_stop_check = 0.0
    k = 0
    try:
        while k < len(due):
            now = time.monotonic()
            if now >= next_stop_check:
                if os.path.exists(a.stop):
                    break
                next_stop_check = now + 0.05
            if now < due[k]:
                time.sleep(min(due[k] - now, 0.05))
                continue
            while k < len(due) and due[k] <= now:
                sock.sendto(datagram(period, k), ("127.0.0.1", a.port))
                t = time.monotonic()
                late.append(t - due[k])
                sent_at.append(t)
                k += 1
    finally:
        sock.close()
    late.sort()
    n = len(late)
    print(
        json.dumps(
            {
                "sent": k,
                "sent_at": sent_at,
                "late_p99_ms": 1000 * late[min(n - 1, int(0.99 * n))] if n else 0.0,
                "late_max_ms": 1000 * late[-1] if n else 0.0,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
