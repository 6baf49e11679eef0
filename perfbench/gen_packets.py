"""Seeded TNC2 packet replay for the ingest workloads.

The benchmark's own generator, written from the APRS 1.0.1 formats and not
from the program's renderer. Every line it writes is distinct (each path
carries a unique igate hop), and for every line it records, apart from the
program, what the collector must make of it: the source callsign, the
packet type, the position in degrees (NaN when the packet has none) and the
`station_bucket` directory (the callsign's first character, upper-cased;
`_` for a line with no callsign).

Mix (shares of well-formed lines): uncompressed positions, compressed
positions, timestamped positions, Mic-E, weather, telemetry, messages,
objects, items, status, third-party and NMEA packets. About 1 % of the
lines are malformed: lines truncated before the payload, server comment
lines, status lines with invalid UTF-8 bytes, plus one empty line and one
oversize (200 KiB) line per replay. Station popularity is Zipf-skewed
(exponent 0.9 over 3,000 stations).
"""
import math
import os

import numpy as np

MIX = [  # (kind, share)
    ("pos", 0.20), ("comp", 0.15), ("pos_ts", 0.08), ("mice", 0.20),
    ("wx", 0.07), ("tlm", 0.05), ("msg", 0.07), ("obj", 0.05),
    ("item", 0.01), ("status", 0.05), ("tp", 0.03), ("nmea", 0.02),
    ("trunc", 0.005), ("comment", 0.003), ("badutf8", 0.002)]
TYPE_OF = {"pos": "position", "comp": "position", "pos_ts": "position_ts",
           "mice": "mice", "wx": "weather", "tlm": "telemetry",
           "msg": "message", "obj": "object", "item": "item",
           "status": "status", "tp": "thirdparty", "nmea": "nmea",
           "trunc": "other", "comment": "other", "badutf8": "status"}
FIRST = "KKKKKWWWNNVDGFIJEOPS" + "ABCHLMRTUYZ" + "2943"
B91 = "".join(chr(33 + i) for i in range(91))
SYMBOLS = ">-_kv[ujO"
N_STATIONS = 3000
OVERSIZE = 200 * 1024


def _callsigns(rng, n):
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    out, seen = [], set()
    while len(out) < n:
        c = FIRST[rng.integers(len(FIRST))]
        if rng.random() < 0.3:
            c += letters[rng.integers(26)]
        c += str(rng.integers(10))
        c += "".join(letters[i] for i in rng.integers(0, 26, rng.integers(1, 4)))
        if rng.random() < 0.6:
            c += f"-{rng.integers(1, 16)}"
        if rng.random() < 0.005:  # a lower-case call: the bucket upper-cases it
            c = c.lower()
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


def _uncomp(lat, lon, sym):
    """Uncompressed body and the degrees the parse yields from it."""
    la, lo = abs(lat), abs(lon)
    ld, lm = int(la), min(int(round((la - int(la)) * 6000)), 5999)
    od, om = int(lo), min(int(round((lo - int(lo)) * 6000)), 5999)
    ns, ew = ("N" if lat >= 0 else "S"), ("E" if lon >= 0 else "W")
    body = f"{ld:02d}{lm // 100:02d}.{lm % 100:02d}{ns}/{od:03d}{om // 100:02d}.{om % 100:02d}{ew}{sym}"
    elat = (ld + lm / 100.0 / 60.0) * (-1.0 if ns == "S" else 1.0)
    elon = (od + om / 100.0 / 60.0) * (-1.0 if ew == "W" else 1.0)
    return body, elat, elon


def _comp(lat, lon, sym):
    y = int(round(380926 * (90 - lat)))
    x = int(round(190463 * (180 + lon)))
    enc = lambda v: "".join(B91[(v // 91 ** k) % 91] for k in (3, 2, 1, 0))
    body = "/" + enc(y) + enc(x) + sym + " sT"
    return body, 90.0 - y / 380926.0, -180.0 + x / 190463.0


def _mice(lat, lon, om, oh, tail):
    """Mic-E destination and info bytes (no longitude offset, standard
    message bits) and the degrees they decode to."""
    la = abs(lat)
    ld, lm = int(la), min(int(round((la - int(la)) * 6000)), 5999)
    digits = f"{ld:02d}{lm:04d}"
    north, west = lat >= 0, lon < 0
    dest = "".join(
        (chr(ord("P") + int(d)) if (i == 3 and north) or (i == 5 and west)
         else d) for i, d in enumerate(digits))
    od = min(max(int(abs(lon)), 10), 98)
    info = (chr(od + 28) + chr(om + 88 if om < 10 else om + 28) + chr(oh + 28)
            + tail)
    elat = (ld + lm / 100.0 / 60.0) * (1.0 if north else -1.0)
    elon = (od + (om * 100 + oh) / 100.0 / 60.0) * (-1.0 if west else 1.0)
    return dest, info, elat, elon


def _nmea(lat, lon, hms):
    la, lo = abs(lat), abs(lon)
    latf = f"{int(la):02d}{(la - int(la)) * 60:06.3f}"
    lonf = f"{int(lo):03d}{(lo - int(lo)) * 60:06.3f}"
    ns, ew = ("N" if lat >= 0 else "S"), ("E" if lon >= 0 else "W")
    s = f"$GPRMC,{hms // 3600:02d}{hms // 60 % 60:02d}{hms % 60:02d},A,{latf},{ns},{lonf},{ew},000.0,000.0,191026,,*6A"
    elat = (float(latf[:2]) + float(latf[2:]) / 60.0) * (-1.0 if ns == "S" else 1.0)
    elon = (float(lonf[:3]) + float(lonf[3:]) / 60.0) * (-1.0 if ew == "W" else 1.0)
    return s, elat, elon


class Replay:
    """The generator's own record of what it wrote, one entry per line."""

    def __init__(self):
        self.raw, self.callsign, self.ptype = [], [], []
        self.lat, self.lon = [], []

    def add(self, raw, call, ptype, lat=math.nan, lon=math.nan):
        self.raw.append(raw)
        self.callsign.append(call)
        self.ptype.append(ptype)
        self.lat.append(lat)
        self.lon.append(lon)

    @staticmethod
    def bucket(call):
        return call[0].upper() if call else "_"

    def __len__(self):
        return len(self.raw)


def _stations(seed):
    rng = np.random.default_rng(seed)
    calls = _callsigns(rng, N_STATIONS)
    return calls, rng.uniform(-60, 70, N_STATIONS), rng.uniform(-170, 170, N_STATIONS)


def _chunk(args):
    """Lines [first, first + n) of the replay for `seed`."""
    seed, first, n, tag = args
    calls, home_lat, home_lon = _stations(seed)
    rng = np.random.default_rng([seed, first])
    pop = 1.0 / np.arange(1, N_STATIONS + 1) ** 0.9
    kinds = [k for k, _ in MIX]
    share = np.array([s for _, s in MIX])
    kind_ix = rng.choice(len(kinds), n, p=share / share.sum())
    st = rng.choice(N_STATIONS, n, p=pop / pop.sum())
    other = rng.choice(N_STATIONS, n, p=pop / pop.sum()).tolist()
    lats = np.clip(home_lat[st] + rng.normal(0, 0.05, n), -89.9, 89.9).tolist()
    lons = np.clip(home_lon[st] + rng.normal(0, 0.05, n), -179.9, 179.9).tolist()
    oms = rng.integers(0, 60, n).tolist()
    ohs = rng.integers(4, 99, n).tolist()
    tails = rng.integers(32, 127, (n, 3)).tolist()
    hms = rng.integers(0, 86400, n).tolist()
    tlm = rng.integers(0, 256, (n, 5)).tolist()
    kind_ix, st = kind_ix.tolist(), st.tolist()
    rep = Replay()
    for j in range(n):
        i = first + j
        kind = kinds[kind_ix[j]]
        call = calls[st[j]]
        lat, lon = lats[j], lons[j]
        hop = f"qAR,{tag}{i:07X}"
        sym = SYMBOLS[i % len(SYMBOLS)]
        ptype = TYPE_OF[kind]
        elat = elon = math.nan
        if kind == "pos":
            body, elat, elon = _uncomp(lat, lon, sym)
            line = f"{call}>APRS,WIDE2-1,{hop}:{'!=' [i % 2]}{body}PHG2360 seq {i}"
        elif kind == "comp":
            body, elat, elon = _comp(lat, lon, sym)
            line = f"{call}>APRS,WIDE1-1,{hop}:{'!=' [i % 2]}{body}"
        elif kind == "pos_ts":
            body, elat, elon = _uncomp(lat, lon, sym)
            line = f"{call}>APRS,{hop}:{'@/' [i % 2]}{(i % 28) + 1:02d}{i % 24:02d}{i % 60:02d}{'zh/' [i % 3]}{body}"
        elif kind == "mice":
            dest, info, elat, elon = _mice(lat, lon, oms[j], ohs[j], "".join(map(chr, tails[j])))
            line = f"{call}>{dest},WIDE1-1,{hop}:{'`' if i % 2 else chr(39)}{info}{sym}/"
        elif kind == "wx":
            line = (f"{call}>APRS,{hop}:_{(i % 12) + 1:02d}{(i % 28) + 1:02d}{i % 24:02d}{i % 60:02d}"
                    f"c{i % 360:03d}s{i % 50:03d}g{i % 70:03d}t{i % 100:03d}r000p000P000h50b10132")
        elif kind == "tlm":
            a = tlm[j]
            line = (f"{call}>APRS,{hop}:T#{i % 1000:03d},{a[0]:03d},{a[1]:03d},{a[2]:03d},"
                    f"{a[3]:03d},{a[4]:03d},{i % 256:08b}")
        elif kind == "msg":
            to = calls[other[j]][:9].ljust(9)
            line = f"{call}>APRS,TCPIP*,{hop}::{to}:hello {i}{{{i % 100000}"
        elif kind == "obj":
            body, elat, elon = _uncomp(lat, lon, sym)
            name = f"OB{i % 10000:04d}".ljust(9)
            line = f"{call}>APRS,{hop}:;{name}{'*_' [i % 2]}{(i % 28) + 1:02d}{i % 24:02d}{i % 60:02d}z{body}"
        elif kind == "item":
            body, elat, elon = _uncomp(lat, lon, sym)
            line = f"{call}>APRS,{hop}:)IT{i % 1000:03d}{'!_' [i % 2]}{body}"
        elif kind == "status":
            line = f"{call}>APRS,{hop}:>status report {i}"
        elif kind == "tp":
            inner = calls[other[j]]
            body, elat, elon = _uncomp(lat, lon, sym)
            line = f"{call}>APRS,{hop}:}}{inner}>APRS,TCPIP,{call}*:!{body}"
        elif kind == "nmea":
            s_, elat, elon = _nmea(lat, lon, hms[j])
            line = f"{call}>GPSLK,{hop}:{s_}"
        elif kind == "trunc":
            line = f"{call}>APRS,WIDE2-1,{hop}"
        elif kind == "comment":
            call = ""
            line = f"# aprsc 2.1.19 19 Oct 2026 07:{i % 60:02d} GMT T2TEST 1.2.3.4:14580 {tag}{i}"
        if kind == "badutf8":
            raw = f"{call}>APRS,{hop}:>bad ".encode() + b"\xff\xfe\xc3(" + str(i).encode()
        else:
            raw = line.encode("utf-8")
        rep.add(raw, call, ptype, elat, elon)
    return rep.raw, rep.callsign, rep.ptype, rep.lat, rep.lon


CHUNK = 50_000


def generate(seed, n_lines, tag="I", workers=4):
    """Return a Replay of `n_lines` lines for `seed`: the same seed gives the
    same lines, whatever the number of worker processes. Replays with
    different `tag`s share no line but the empty one."""
    n = n_lines - 2  # plus one empty and one oversize line
    jobs = [(seed, first, min(CHUNK, n - first), tag) for first in range(0, n, CHUNK)]
    if workers > 1 and len(jobs) > 1:
        import multiprocessing
        with multiprocessing.get_context("fork").Pool(min(workers, len(jobs))) as pool:
            parts = pool.map(_chunk, jobs)
    else:
        parts = [_chunk(j) for j in jobs]
    rep = Replay()
    for part in parts:
        for col, vals in zip((rep.raw, rep.callsign, rep.ptype, rep.lat, rep.lon), part):
            col.extend(vals)
    calls = _stations(seed)[0]
    rep.add(b"", "", "other")
    body, elat, elon = _uncomp(10.5, 20.25, ">")
    big = f"{calls[0]}>APRS,qAR,{tag}OVERSIZE:!{body}" + "x" * OVERSIZE
    rep.add(big.encode(), calls[0], "position", elat, elon)
    return rep


def write_files(rep, out_dir, n_files, prefix="part"):
    """Split the replay into `n_files` text files of consecutive lines; the
    extra two lines (empty, oversize) land in the last file."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(rep)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    paths = []
    for f in range(n_files):
        p = os.path.join(out_dir, f"{prefix}-{f:05d}.txt")
        with open(p, "wb") as fh:
            fh.write(b"\n".join(rep.raw[bounds[f]:bounds[f + 1]]) + b"\n")
        paths.append(p)
    return paths
