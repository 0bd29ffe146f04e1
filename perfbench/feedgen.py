"""Seeded SBS-1 BaseStation feed generator.

Writes a dump1090 port-30003 mix: MSG transmission types 1/3/4/5/7/8
from a fixed fleet of aircraft, plus the input properties the
ingester's behaviour depends on, each fixed by a module constant and
recorded in ``Feed.props``:

- aircraft count: the size of the PK dedup state;
- non-MSG share: SEL/ID/AIR/STA/CLK short forms, which the width
  filter drops;
- malformed share: MSG lines truncated or widened off 22 fields;
- not-null share: 22-field MSG lines without ``hex_ident``, which the
  NOT NULL filter drops;
- duplicate share: exact repeats of a recent MSG line, as a receiver
  relaying the same message twice produces.

The field layout of each message follows the reference README's
sample lines (``tests/fixtures.py``). The shares and the fleet size
below are assumptions, not measurements: no real SBS-1 capture is in
the repository to derive them from (NOTES.md).

The same seed and line count give byte-identical lines. Every line
carries its kind, so the benchmark knows which lines the parser must
accept without asking the program.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

# Fixed input properties. All are assumed, not measured (module
# docstring): positions and velocities dominate the MSG mix and
# identification is rare, as on a receiver with many aircraft in range.
MSG_MIX = {3: 0.36, 4: 0.26, 5: 0.14, 8: 0.10, 7: 0.07, 1: 0.07}
AIRCRAFT = 400          # size of the PK dedup state
NONMSG_SHARE = 0.02     # SEL/ID/AIR/STA/CLK short forms
MALFORMED_SHARE = 0.01  # MSG lines cut short or widened
NOTNULL_SHARE = 0.005   # 22-field MSG lines without hex_ident
DUP_SHARE = 0.05        # exact repeats of a recent MSG line
START = datetime(2026, 3, 1, 12, 0, 0)  # generated time of the first line

KIND_MSG = "msg"            # accepted, first copy
KIND_DUP = "dup"            # accepted, exact repeat of an earlier line
KIND_NONMSG = "nonmsg"      # rejected: width filter (short form)
KIND_MALFORMED = "malformed"  # rejected: width filter (bad MSG line)
KIND_NOTNULL = "notnull"    # rejected: NOT NULL (no hex_ident)
ACCEPTED_KINDS = (KIND_MSG, KIND_DUP)

_AIRLINES = ("RYR", "EZY", "BAW", "DLH", "AFR", "KLM", "UAE", "SAS",
             "IBE", "AAL", "UAL", "DAL", "RJA", "THY", "QTR", "ACA")


@dataclass
class Feed:
    lines: list[str]
    kinds: list[str]
    props: dict

    def accepted(self) -> list[str]:
        return [ln for ln, k in zip(self.lines, self.kinds)
                if k in ACCEPTED_KINDS]


class _Clock:
    """Wire date and time strings for millisecond offsets from a start
    instant, without a datetime object per line."""

    def __init__(self, start: datetime):
        midnight = start.replace(hour=0, minute=0, second=0, microsecond=0)
        self._day0 = midnight
        self._ms0 = int((start - midnight).total_seconds() * 1000)
        self._dates: dict[int, str] = {}
        # Many lines share a millisecond at live rates.
        self._stamps: dict[int, tuple[str, str]] = {}

    def stamp(self, off_ms: int) -> tuple[str, str]:
        hit = self._stamps.get(off_ms)
        if hit is not None:
            return hit
        day, ms = divmod(self._ms0 + off_ms, 86_400_000)
        d = self._dates.get(day)
        if d is None:
            d = (self._day0 + timedelta(days=day)).strftime("%Y/%m/%d")
            self._dates[day] = d
        s, ms = divmod(ms, 1000)
        m, s = divmod(s, 60)
        h, m = divmod(m, 60)
        hit = self._stamps[off_ms] = (d, f"{h:02d}:{m:02d}:{s:02d}.{ms:03d}")
        return hit


class _Aircraft:
    __slots__ = ("hex", "aid", "fid", "callsign", "lat", "lon", "alt",
                 "gs", "trk", "vr", "squawk", "ground")

    def __init__(self, rng: random.Random, i: int, hexes: set[str]):
        while True:
            h = f"{rng.randrange(0x300000, 0xAFFFFF):06X}"
            if h not in hexes:
                hexes.add(h)
                break
        self.hex = h
        self.aid = str(1 + i)
        self.fid = str(10000 + i)
        self.callsign = (rng.choice(_AIRLINES)
                         + str(rng.randrange(10, 9999))).ljust(8)
        self.lat = rng.uniform(48.0, 56.0)
        self.lon = rng.uniform(-6.0, 12.0)
        self.alt = rng.randrange(2000, 41000, 25)
        self.gs = rng.randrange(180, 520)
        self.trk = rng.randrange(0, 360)
        self.vr = rng.choice((-1600, -832, -64, 0, 0, 0, 64, 960, 1920))
        self.squawk = f"{rng.randrange(0, 8 ** 4):04o}"
        self.ground = "-1" if rng.random() < 0.03 else "0"

    def step(self, rng: random.Random) -> None:
        self.lat += rng.uniform(-0.002, 0.002)
        self.lon += rng.uniform(-0.003, 0.003)
        self.alt = max(0, self.alt + rng.choice((-25, 0, 0, 25)))


def _msg_fields(a: _Aircraft, tt: int) -> list[str]:
    """The 12 payload fields after logged_time for transmission type tt
    (callsign .. is_on_ground), as dump1090 fills them."""
    e = ""
    if tt == 1:
        return [a.callsign, e, e, e, e, e, e, e, e, e, e, e]
    if tt == 3:
        return [e, str(a.alt), e, e, f"{a.lat:.5f}", f"{a.lon:.5f}", e, e,
                "0", "0", "0", a.ground]
    if tt == 4:
        return [e, e, str(a.gs), str(a.trk), e, e, str(a.vr), e, e, e, e, e]
    if tt == 5:
        return [e, str(a.alt), e, e, e, e, e, e, "0", e, "0", a.ground]
    if tt == 7:
        return [e, str(a.alt), e, e, e, e, e, e, e, e, e, a.ground]
    return [e, e, e, e, e, e, e, e, e, e, e, a.ground]  # tt == 8


def _nonmsg_line(rng: random.Random, a: _Aircraft, d: str, t: str) -> str:
    kind = rng.choice(("SEL", "ID", "AIR", "STA", "CLK"))
    if kind == "SEL":
        return f"SEL,,1,{a.aid},{a.hex},{a.fid},{d},{t},{d},{t},{a.callsign}"
    if kind == "ID":
        return f"ID,,1,{a.aid},{a.hex},{a.fid},{d},{t},{d},{t},{a.callsign}"
    if kind == "AIR":
        return f"AIR,,1,{a.aid},{a.hex},{a.fid},{d},{t},{d},{t}"
    if kind == "STA":
        return f"STA,,1,{a.aid},{a.hex},{a.fid},{d},{t},{d},{t},RM"
    return f"CLK,,1,-1,,-1,{d},{t},{d},{t}"


def generate(n_lines: int, span_s: float, seed: int) -> Feed:
    """Render ``n_lines`` SBS-1 lines from ``seed``.

    Event time advances evenly over ``span_s`` seconds from ``START``;
    the logged time trails the generated time by up to 0.4 s, as on a
    real receiver.
    """
    rng = random.Random(seed)
    hexes: set[str] = set()
    fleet = [_Aircraft(rng, i, hexes) for i in range(AIRCRAFT)]
    types = list(MSG_MIX)
    cum = list(itertools.accumulate(MSG_MIX[t] for t in types))
    clock = _Clock(START)
    dt = span_s / max(1, n_lines)
    reject_cut = NONMSG_SHARE + MALFORMED_SHARE
    lines: list[str] = []
    kinds: list[str] = []
    recent: list[str] = []
    counts = {k: 0 for k in (KIND_MSG, KIND_DUP, KIND_NONMSG,
                             KIND_MALFORMED, KIND_NOTNULL)}
    type_counts = {t: 0 for t in types}
    for i in range(n_lines):
        off_ms = int(i * dt * 1000)
        d, t = clock.stamp(off_ms)
        a = rng.choice(fleet)
        r = rng.random()
        if recent and r < DUP_SHARE:
            line, kind = rng.choice(recent), KIND_DUP
        else:
            r2 = rng.random()
            if r2 < NONMSG_SHARE:
                line, kind = _nonmsg_line(rng, a, d, t), KIND_NONMSG
            else:
                a.step(rng)
                tt = types[min(bisect.bisect(cum, rng.random() * cum[-1]),
                               len(types) - 1)]
                hex_ident = a.hex
                kind = KIND_MSG
                if r2 < reject_cut:
                    kind = KIND_MALFORMED
                elif r2 < reject_cut + NOTNULL_SHARE:
                    kind, hex_ident = KIND_NOTNULL, ""
                ld, lt = clock.stamp(off_ms + int(rng.random() * 400))
                head = ["MSG", str(tt), "1", a.aid, hex_ident, a.fid, d, t,
                        ld, lt]
                fields = head + _msg_fields(a, tt)
                if kind == KIND_MALFORMED:
                    if rng.random() < 0.5:
                        fields = fields[:rng.randrange(5, 21)]
                    else:
                        fields = fields + [""]
                line = ",".join(fields)
                if kind == KIND_MSG:
                    type_counts[tt] += 1
                    recent.append(line)
                    if len(recent) > 64:
                        recent.pop(0)
        lines.append(line)
        kinds.append(kind)
        counts[kind] += 1
    n = max(1, n_lines)
    props = {
        "seed": seed,
        "lines": n_lines,
        "aircraft": AIRCRAFT,
        "span_s": span_s,
        "nonmsg_share": counts[KIND_NONMSG] / n,
        "malformed_share": counts[KIND_MALFORMED] / n,
        "notnull_share": counts[KIND_NOTNULL] / n,
        "dup_share": counts[KIND_DUP] / n,
        "accepted_lines": counts[KIND_MSG] + counts[KIND_DUP],
        "kind_counts": counts,
        "msg_type_counts": {str(k): v for k, v in type_counts.items()},
    }
    return Feed(lines=lines, kinds=kinds, props=props)


def write_files(lines: list[str], directory: Path, n_files: int,
                stem: str = "feed") -> list[Path]:
    """Split ``lines`` into ``n_files`` consecutive files under
    ``directory``; returns their paths in order."""
    directory.mkdir(parents=True, exist_ok=True)
    per = -(-len(lines) // n_files)
    paths = []
    for k in range(n_files):
        chunk = lines[k * per:(k + 1) * per]
        p = directory / f"{stem}-{k:05d}.txt"
        p.write_text("\n".join(chunk) + "\n")
        paths.append(p)
    return paths

