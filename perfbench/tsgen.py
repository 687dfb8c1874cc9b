"""Seeded MPEG-TS mux and capture generator, with expected demux results.

The generator writes packets with the engine's own encoders
(``codec.psi`` for PAT/PMT/SDT sections, ``codec.ts.encode_ts_packet`` for
ES packets) and records, per packet, the facts the demux must recover:
its PID, its payload length and whether it carries an injected continuity
error. Expected outputs (per-PID counts, CC errors, program summary,
complete tables) are derived from those records and the design, never by
parsing the bytes back.

Layout of one program ``i`` (1-based): PMT on ``0x100 * i``, video (PCR)
on ``+1``, audio on ``+2 ..``; a PMT version bump adds a subtitle stream
on ``+0xF``. PAT on PID 0, SDT on PID 0x11.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import numpy as np

from streamprocessors_spark.codec import psi
from streamprocessors_spark.codec.ts import TS_PKT_SIZE, encode_ts_packet

PKTS_PER_DATAGRAM = 7
DATAGRAM_SIZE = TS_PKT_SIZE * PKTS_PER_DATAGRAM
STREAM_TYPE_VIDEO = 0x1B
STREAM_TYPE_AUDIO = 0x0F
STREAM_TYPE_SUBTITLE = 0x06
PCR_EVERY = 10  # every 10th video packet carries a PCR


@dataclass(frozen=True)
class MuxDesign:
    """What a mux varies. Every random choice is drawn from ``seed``."""

    seed: int
    n_programs: int = 4
    es_per_program: int = 2  # one video + (n - 1) audio
    video_weight: int = 6  # video packets per audio packet (PID skew)
    psi_interval: int = 64  # ES packets between PSI repeats
    cc_error_rate: float = 0.002  # chance an ES packet skips one CC value
    pmt_bump_at: float | None = 0.5  # stream fraction where PMT 1 goes v0 -> v1
    n_es_packets: int = 20_000


@dataclass
class Mux:
    data: bytes
    pid: np.ndarray  # per packet
    payload_len: np.ndarray  # per packet
    cc_err: np.ndarray  # per packet: an injected continuity error lands here
    programs: list[dict] = field(default_factory=list)  # expected summary rows
    n_tables: int = 0  # distinct complete (pid, table, ext, version) tables
    n_sections: int = 0  # PSI sections carried (repeats included)

    @property
    def n_packets(self) -> int:
        return len(self.pid)


class _Writer:
    def __init__(self, design: MuxDesign) -> None:
        self.d = design
        self.rng = random.Random(design.seed)
        self.cc: dict[int, int] = {}
        self.pkts: list[bytes] = []
        self.pids: list[int] = []
        self.plen: list[int] = []
        self.errs: list[bool] = []
        self.ts_id = self.rng.randrange(1, 0xFFFF)
        self.progs = []
        for i in range(1, design.n_programs + 1):
            base = 0x100 * i
            streams = [(STREAM_TYPE_VIDEO, base + 1)] + [
                (STREAM_TYPE_AUDIO, base + 1 + k) for k in range(1, design.es_per_program)
            ]
            self.progs.append(
                {
                    "program_number": i,
                    "pmt_pid": base,
                    "pcr_pid": base + 1,
                    "streams": streams,
                    "service_name": f"SVC{self.rng.randrange(10_000):04d}-{i}",
                    "pmt_version": 0,
                }
            )
        self.pat = psi.encode_pat(
            [(p["program_number"], p["pmt_pid"]) for p in self.progs], ts_id=self.ts_id
        )
        self.sdt = psi.encode_sdt(
            [(p["program_number"], 1, "perfbench", p["service_name"]) for p in self.progs],
            ts_id=self.ts_id,
        )
        self.es_count: dict[int, int] = {}
        self.n_sections = 0

    def _next_cc(self, pid: int, skip: bool = False) -> int:
        cur = self.cc.get(pid, -1)
        nxt = (cur + (2 if skip and cur >= 0 else 1)) & 0xF
        self.cc[pid] = nxt
        return nxt

    def _add(self, pkt: bytes, pid: int, payload_len: int, err: bool) -> None:
        self.pkts.append(pkt)
        self.pids.append(pid)
        self.plen.append(payload_len)
        self.errs.append(err)

    def psi_burst(self) -> None:
        sections = [(self.pat, psi.PSI_PID_PAT)]
        for p in self.progs:
            sec = psi.encode_pmt(
                p["program_number"], p["pcr_pid"], p["streams"], version=p["pmt_version"]
            )
            sections.append((sec, p["pmt_pid"]))
        sections.append((self.sdt, psi.PSI_PID_SDT))
        for sec, pid in sections:
            self.n_sections += 1
            burst = psi.sectionize(sec, pid, start_cc=self._next_cc(pid))
            for _ in burst[1:]:
                self._next_cc(pid)
            for pkt in burst:
                self._add(pkt, pid, TS_PKT_SIZE - 4, False)

    def es_packet(
        self, pid: int, pcr_pid: bool, force_err: bool = False, allow_err: bool = True
    ) -> None:
        n = self.es_count.get(pid, 0)
        self.es_count[pid] = n + 1
        err = n > 0 and allow_err and (
            force_err or self.rng.random() < self.d.cc_error_rate
        )
        pcr = 27_000_000 // 25 * n if pcr_pid and n % PCR_EVERY == 0 else None
        payload_len = TS_PKT_SIZE - 4 - (8 if pcr is not None else 0)
        payload = bytes([(n + pid) & 0xFF]) * payload_len
        pkt = encode_ts_packet(
            pid,
            payload=payload,
            cc=self._next_cc(pid, skip=err),
            pusi=1 if n == 0 else 0,
            pcr=pcr,
            random_access=0,
        )
        self._add(pkt, pid, payload_len, err)

    def bump_pmt(self) -> None:
        p = self.progs[0]
        p["pmt_version"] = 1
        p["streams"] = p["streams"] + [(STREAM_TYPE_SUBTITLE, p["pmt_pid"] + 0xF)]

    def rounds(self) -> None:
        d = self.d
        bump_at = None if d.pmt_bump_at is None else int(d.n_es_packets * d.pmt_bump_at)
        # one forced error per video PID, at a seeded spot in the second
        # half, so every stream has at least one CC error to find
        forced = {
            p["pcr_pid"]: self.rng.randrange(d.n_es_packets // 2, d.n_es_packets)
            for p in self.progs
        }
        es_sent = 0
        since_psi = 0
        self.psi_burst()
        while es_sent < d.n_es_packets:
            for p in self.progs:
                for st, pid in p["streams"]:
                    reps = d.video_weight if st == STREAM_TYPE_VIDEO else 1
                    for _ in range(reps):
                        self.es_packet(
                            pid,
                            pid == p["pcr_pid"],
                            force_err=forced.get(pid) is not None and es_sent >= forced[pid],
                        )
                        if forced.get(pid) is not None and es_sent >= forced[pid]:
                            forced[pid] = None
                        es_sent += 1
                        since_psi += 1
            if bump_at is not None and es_sent >= bump_at:
                self.bump_pmt()
                bump_at = None
                self.psi_burst()
                since_psi = 0
            elif since_psi >= d.psi_interval:
                self.psi_burst()
                since_psi = 0

    def close_cc_cycle(self) -> None:
        """Append packets until every PID's CC advanced by a multiple of
        16, so the mux repeats end-to-start with no continuity seam."""
        advance: dict[int, int] = {}
        for pid, err in zip(self.pids, self.errs):
            advance[pid] = advance.get(pid, 0) + (2 if err else 1)
        psi_pids = {psi.PSI_PID_PAT, psi.PSI_PID_SDT} | {p["pmt_pid"] for p in self.progs}
        pcr_pids = {p["pcr_pid"] for p in self.progs}
        for pid in sorted(advance):
            for _ in range((-advance[pid]) % 16):
                if pid in psi_pids:
                    body = b"\xff" * (TS_PKT_SIZE - 4)  # stuffing continuation
                    pkt = psi._raw_packet(pid, body, self._next_cc(pid), pusi=0)
                    self._add(pkt, pid, TS_PKT_SIZE - 4, False)
                else:
                    self.es_packet(pid, pid in pcr_pids, allow_err=False)

    def mux(self) -> Mux:
        progs = [
            {
                "program_number": p["program_number"],
                "reference_pid": p["pmt_pid"],
                "service_name": p["service_name"],
                "n_streams": len(p["streams"]),
                "pcr_pid": p["pcr_pid"],
            }
            for p in self.progs
        ]
        # PAT + SDT + one PMT per program (+1 for a bumped version)
        n_tables = 2 + len(self.progs) + sum(1 for p in self.progs if p["pmt_version"])
        return Mux(
            data=b"".join(self.pkts),
            pid=np.asarray(self.pids, dtype=np.int32),
            payload_len=np.asarray(self.plen, dtype=np.int64),
            cc_err=np.asarray(self.errs, dtype=bool),
            programs=progs,
            n_tables=n_tables,
            n_sections=self.n_sections,
        )


def build_mux(design: MuxDesign) -> Mux:
    """One finite multi-program stream (a capture segment)."""
    w = _Writer(design)
    w.rounds()
    return w.mux()


def build_live_period(design: MuxDesign) -> Mux:
    """One period of an endlessly repeating mux: no PMT bump (versions
    would flip on every repeat) and CC closed so repeats join cleanly."""
    if design.pmt_bump_at is not None:
        raise ValueError("a repeating mux cannot carry a version bump")
    w = _Writer(design)
    w.rounds()
    w.close_cc_cycle()
    return w.mux()


def expected_pid_stats(mux: Mux) -> dict[int, tuple[int, int, int]]:
    """pid -> (n_packets, payload_bytes, cc_errors) for the whole mux."""
    out = {}
    for pid in np.unique(mux.pid):
        m = mux.pid == pid
        out[int(pid)] = (int(m.sum()), int(mux.payload_len[m].sum()), int(mux.cc_err[m].sum()))
    return out


def expected_violations(mux: Mux) -> list[tuple[int, int]]:
    """(pid, pkt_index) of every packet that breaks continuity."""
    idx = np.nonzero(mux.cc_err)[0]
    return sorted((int(mux.pid[i]), int(i)) for i in idx)


def expected_prefix(period: Mux, n_packets: int) -> dict[int, tuple[int, int]]:
    """pid -> (n_packets, cc_errors) over the first ``n_packets`` of the
    endlessly repeated ``period``."""
    reps, rem = divmod(n_packets, period.n_packets)
    out: dict[int, tuple[int, int]] = {}
    pids = np.unique(period.pid)
    for pid in pids:
        m = period.pid == pid
        mr = m[:rem]
        n = reps * int(m.sum()) + int(mr.sum())
        e = reps * int(period.cc_err[m].sum()) + int(period.cc_err[:rem][mr].sum())
        if n:
            out[int(pid)] = (n, e)
    return out


def datagram(period_data: bytes, i: int) -> bytes:
    """Datagram ``i`` of the endlessly repeated period (7 packets)."""
    size = len(period_data)
    off = (i * DATAGRAM_SIZE) % size
    end = off + DATAGRAM_SIZE
    if end <= size:
        return period_data[off:end]
    return period_data[off:] + period_data[: end - size]
