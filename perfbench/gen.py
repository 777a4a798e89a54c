"""Seeded workload generator and Spark-free oracle.

Writes the inputs the engine reads (a transcripts parquet file or a set of
small parquet files, and a GeoLite2-City-CSV pair of Blocks-IPv4 and
Locations-en files) and computes, without Spark, the outputs the engine
must produce for them:

  * per-turn lookup outcome, by an independent longest-prefix match
    (``numpy.searchsorted`` over the sorted, disjoint block ranges);
  * per-(hour, country) ``n_turns`` / ``n_failures``;
  * per-(role, tool) sink counts and failures;
  * per-``conv_id`` turn counts (the conv rollup).

The same seed gives byte-identical files. Every text is built from a
lowercase vocabulary with no digits, so the only IPv4/IPv6-shaped literal in
a text is the one the generator placed there, and the oracle knows the
exact string the parse stage extracts.
"""

from __future__ import annotations

import csv
import ipaddress
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Golden leaf from the reference's test fixtures: 216.160.83.58 → Milton,
# US-WA, 98354 (GeoIPFilterTest.java). Its /16 is never generated, so the
# golden block is the only network there.
GOLDEN_IP = "216.160.83.58"
GOLDEN_NETWORK = "216.160.83.56/29"
GOLDEN_GEONAME = 5803556
GOLDEN_LOCATION = {
    "geoname_id": GOLDEN_GEONAME, "continent_code": "NA",
    "continent_name": "North America", "country_iso_code": "US",
    "country_name": "United States", "subdivision_1_iso_code": "WA",
    "subdivision_1_name": "Washington", "city_name": "Milton",
    "metro_code": "819", "time_zone": "America/Los_Angeles"}
GOLDEN_BLOCK = {"postal_code": "98354", "latitude": "47.2513",
                "longitude": "-122.3149"}

# v6 literals resolve against the engine's golden City v6 rows
# (sources/geolite2.GOLDEN_CITY_V6_ROWS): 2607:f0d0::/32 → US and
# 2a02:d5c0::/29 → ES hit; the other prefixes miss. Every prefix has two
# non-zero leading groups, so no literal starts with '::' (which the parse
# regex cannot anchor on).
V6_HIT_PREFIXES = ((0x2607F0D0 << 96, 32, "US"), (0x2A02D5C0 << 96, 29, "ES"))
V6_MISS_PREFIXES = ((0x2C0FF248 << 96, 32), (0x20010DB8 << 96, 32))

COUNTRIES = [
    ("US", "United States", "NA", "North America"),
    ("CA", "Canada", "NA", "North America"),
    ("MX", "Mexico", "NA", "North America"),
    ("BR", "Brazil", "SA", "South America"),
    ("AR", "Argentina", "SA", "South America"),
    ("CL", "Chile", "SA", "South America"),
    ("GB", "United Kingdom", "EU", "Europe"),
    ("DE", "Germany", "EU", "Europe"),
    ("FR", "France", "EU", "Europe"),
    ("ES", "Spain", "EU", "Europe"),
    ("IT", "Italy", "EU", "Europe"),
    ("NL", "Netherlands", "EU", "Europe"),
    ("SE", "Sweden", "EU", "Europe"),
    ("PL", "Poland", "EU", "Europe"),
    ("UA", "Ukraine", "EU", "Europe"),
    ("RU", "Russia", "EU", "Europe"),
    ("TR", "Turkey", "AS", "Asia"),
    ("IN", "India", "AS", "Asia"),
    ("CN", "China", "AS", "Asia"),
    ("JP", "Japan", "AS", "Asia"),
    ("KR", "South Korea", "AS", "Asia"),
    ("SG", "Singapore", "AS", "Asia"),
    ("ID", "Indonesia", "AS", "Asia"),
    ("VN", "Vietnam", "AS", "Asia"),
    ("TH", "Thailand", "AS", "Asia"),
    ("PH", "Philippines", "AS", "Asia"),
    ("AU", "Australia", "OC", "Oceania"),
    ("NZ", "New Zealand", "OC", "Oceania"),
    ("ZA", "South Africa", "AF", "Africa"),
    ("NG", "Nigeria", "AF", "Africa"),
    ("EG", "Egypt", "AF", "Africa"),
    ("KE", "Kenya", "AF", "Africa"),
]
TIME_ZONES = ["America/New_York", "America/Chicago", "America/Denver",
              "America/Los_Angeles", "Europe/London", "Europe/Berlin",
              "Asia/Tokyo", "Asia/Kolkata", "Australia/Sydney", ""]

ROLES = ("user", "assistant", "tool", "system")
TOOLS = ("search", "bash", "geoip", "browser", "python", None)
SINKS = [(r, t) for r in ROLES for t in TOOLS]            # 24 (role, tool)

# lowercase only: no digit, '.', ':' or 'E' can come from filler, so the
# parse regexes see exactly the literals placed below
WORDS = ("the session user asked about latency on the edge cluster and the "
         "agent replied with a summary of recent traffic from several "
         "regions while the tool call returned partial results so retry "
         "later with search or bash or python when the browser view is "
         "stale note that geoip lookups tag failures for unknown hosts "
         "queue backlog grew during peak hours before the rollup finished"
         ).split()

TS_BASE = 1_767_225_600          # 2026-01-01T00:00:00Z
HOURS = 48                       # ts spread
TEXT_LO, TEXT_HI = 40, 400       # text length, characters
ZIPF_S = 1.1                     # pooled IP rank exponent
TURNS_PER_CONV = 12
ABORT_SHARE = 0.005              # blocks with no lat/lon → City abort miss


# shares of IP-bearing turns by kind: inside a generated block, in a
# never-allocated /16, v6 (golden networks, hits and misses), IPv4-shaped
# with an octet above 255
KIND_SHARES = np.array([0.85, 0.07, 0.05, 0.03])


@dataclass(frozen=True)
class DimSpec:
    n_prefix16: int              # populated /16 buckets
    nets_lo: int                 # networks per populated /16 (inclusive)
    nets_hi: int
    n_locations: int = 2000


@dataclass(frozen=True)
class TurnSpec:
    n_turns: int
    ip_density: float            # share of turns carrying an IP
    pool: int | None             # distinct v4/v6 addresses (None: near-unique)
    hot_conv_share: float = 0.0
    sink_top_share: float = 0.0  # share of the largest sink (0: uniform)


# ---------------------------------------------------------------------------
# Dimension
# ---------------------------------------------------------------------------


@dataclass
class Dim:
    starts: np.ndarray           # sorted uint32 range starts (int64)
    ends: np.ndarray
    country: np.ndarray          # object: iso code per block
    abort: np.ndarray            # bool: lat and lon both empty
    bucket_rows: dict            # /16 bucket → blocks in it
    blocks_path: str = ""
    locations_path: str = ""


def _locations(rng: np.random.Generator, n: int) -> list[dict]:
    syll = np.array(["ka", "lo", "mi", "ra", "te", "su", "no", "vi", "da",
                     "be", "ro", "sa", "li", "po", "ne", "ta"])
    out = []
    cidx = rng.integers(0, len(COUNTRIES), n)
    lens = rng.integers(2, 5, n)
    parts = rng.integers(0, len(syll), (n, 4))
    tz = rng.integers(0, len(TIME_ZONES), n)
    sub = rng.integers(0, 26 * 26, n)
    for i in range(n):
        iso, cname, ccode, contname = COUNTRIES[cidx[i]]
        city = "".join(syll[parts[i, :lens[i]]]).capitalize()
        s = chr(65 + sub[i] // 26) + chr(65 + sub[i] % 26)
        out.append({
            "geoname_id": 1_000_000 + i, "continent_code": ccode,
            "continent_name": contname, "country_iso_code": iso,
            "country_name": cname, "subdivision_1_iso_code": s,
            "subdivision_1_name": "Region " + s, "city_name": city,
            "metro_code": str(500 + i % 300) if iso == "US" else "",
            "time_zone": TIME_ZONES[tz[i]]})
    return out


def make_dim(rng: np.random.Generator, spec: DimSpec, out_dir: str) -> Dim:
    """Generate and write a GeoLite2-City-CSV pair; return the oracle view.

    Populated /16s take first octets 11–199 (never 127 or 216); each holds
    ``nets_lo..nets_hi`` networks, one per distinct /24 (a fifth of them
    /25s, leaving the upper half unallocated)."""
    first = np.array([o for o in range(11, 200) if o != 127])
    cand = first[:, None] * 256 + np.arange(256)[None, :]
    prefixes = rng.choice(cand.ravel(), spec.n_prefix16, replace=False)
    locs = _locations(rng, spec.n_locations)
    starts, ends, geo = [], [], []
    for p in prefixes:
        n = int(rng.integers(spec.nets_lo, spec.nets_hi + 1))
        c24 = np.sort(rng.choice(256, n, replace=False))
        half = rng.random(n) < 0.2
        s = (int(p) << 16) + (c24.astype(np.int64) << 8)
        starts.append(s)
        ends.append(s + np.where(half, 127, 255))
        geo.append(rng.integers(0, spec.n_locations, n))
    starts = np.concatenate(starts)
    ends = np.concatenate(ends)
    geo = np.concatenate(geo)
    nb = len(starts)
    abort = rng.random(nb) < ABORT_SHARE
    lat = np.round(rng.uniform(-60, 70, nb), 4)
    lon = np.round(rng.uniform(-180, 180, nb), 4)
    postal = rng.integers(10000, 99999, nb)
    has_postal = rng.random(nb) < 0.6

    os.makedirs(out_dir, exist_ok=True)
    blocks_path = os.path.join(out_dir, "GeoLite2-City-Blocks-IPv4.csv")
    locs_path = os.path.join(out_dir, "GeoLite2-City-Locations-en.csv")
    with open(blocks_path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["network", "geoname_id", "registered_country_geoname_id",
                    "represented_country_geoname_id", "is_anonymous_proxy",
                    "is_satellite_provider", "postal_code", "latitude",
                    "longitude", "accuracy_radius", "is_anycast"])
        for i in range(nb):
            s = int(starts[i])
            plen = 25 if ends[i] - s == 127 else 24
            net = f"{s >> 24}.{(s >> 16) & 255}.{(s >> 8) & 255}.0/{plen}"
            gid = 1_000_000 + int(geo[i])
            w.writerow([net, gid, gid, "", 0, 0,
                        postal[i] if has_postal[i] else "",
                        "" if abort[i] else lat[i],
                        "" if abort[i] else lon[i], 100, 0])
        w.writerow([GOLDEN_NETWORK, GOLDEN_GEONAME, GOLDEN_GEONAME, "", 0, 0,
                    GOLDEN_BLOCK["postal_code"], GOLDEN_BLOCK["latitude"],
                    GOLDEN_BLOCK["longitude"], 5, 0])
    cols = ["geoname_id", "locale_code", "continent_code", "continent_name",
            "country_iso_code", "country_name", "subdivision_1_iso_code",
            "subdivision_1_name", "subdivision_2_iso_code",
            "subdivision_2_name", "city_name", "metro_code", "time_zone",
            "is_in_european_union"]
    with open(locs_path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(cols)
        for loc in locs + [GOLDEN_LOCATION]:
            row = dict(loc, locale_code="en", subdivision_2_iso_code="",
                       subdivision_2_name="",
                       is_in_european_union=int(loc["continent_code"] == "EU"))
            w.writerow([row[c] for c in cols])

    gs, ge = _v4_range(GOLDEN_NETWORK)
    country = np.array([locs[g]["country_iso_code"] for g in geo] + ["US"],
                       dtype=object)
    starts = np.append(starts, gs)
    ends = np.append(ends, ge)
    abort = np.append(abort, False)
    order = np.argsort(starts, kind="stable")
    buckets = Counter((starts >> 16).tolist())
    return Dim(starts[order], ends[order], country[order], abort[order],
               dict(buckets), blocks_path, locs_path)


def _v4_range(network: str) -> tuple[int, int]:
    net = ipaddress.ip_network(network)
    return int(net.network_address), int(net.broadcast_address)


def lookup_v4(dim: Dim, ips: np.ndarray) -> np.ndarray:
    """Block index per uint32 IP, -1 on a miss (the oracle's LPM)."""
    idx = np.searchsorted(dim.starts, ips, side="right") - 1
    ok = (idx >= 0) & (ips <= dim.ends[np.maximum(idx, 0)])
    return np.where(ok, idx, -1)


# ---------------------------------------------------------------------------
# Turns
# ---------------------------------------------------------------------------


def _ipv4_str(u: np.ndarray) -> list[str]:
    u = u.astype(np.int64)
    return [f"{a}.{b}.{c}.{d}" for a, b, c, d in
            zip((u >> 24).tolist(), ((u >> 16) & 255).tolist(),
                ((u >> 8) & 255).tolist(), (u & 255).tolist())]


def _draw_v4_alloc(rng, dim: Dim, n: int, stratified: bool = False) -> np.ndarray:
    """Random hosts inside random blocks. Stratified, the i-th address
    comes from the golden-ratio quantile i of the blocks ordered by their
    /16's density, so the few hottest Zipf ranks see the same probe cost
    whatever the seed."""
    nb = len(dim.starts)
    if stratified:
        density = np.array([dim.bucket_rows[int(s) >> 16] for s in dim.starts])
        order = np.argsort(density, kind="stable")
        u = (0.5 + np.arange(n) * 0.6180339887498949 + rng.random(n) / nb) % 1.0
        b = order[(u * nb).astype(np.int64)]
    else:
        b = rng.integers(0, nb, n)
    span = dim.ends[b] - dim.starts[b] + 1
    return dim.starts[b] + (rng.random(n) * span).astype(np.int64)


def _draw_v4_unalloc(rng, n: int) -> np.ndarray:
    # first octets 200–215 are never allocated by make_dim
    return (rng.integers(200, 216, n).astype(np.int64) << 24) \
        + rng.integers(0, 1 << 24, n)


def _draw_v6(rng, n: int) -> tuple[list[str], np.ndarray]:
    """v6 literals (compressed form) and their expected country (or None)."""
    hit = rng.random(n) < 0.6
    which = rng.integers(0, 2, n)
    lits, ctry = [], np.empty(n, dtype=object)
    for i in range(n):
        if hit[i]:
            base, plen, iso = V6_HIT_PREFIXES[which[i]]
            ctry[i] = iso
        else:
            base, plen = V6_MISS_PREFIXES[which[i]]
            ctry[i] = None
        host = int(rng.integers(1, 1 << 62)) << int(rng.integers(0, 128 - plen - 61))
        addr = base | (host & ((1 << (128 - plen)) - 1)) | 1
        lits.append(ipaddress.IPv6Address(addr).compressed)
    return lits, ctry


def _draw_invalid(rng, n: int) -> list[str]:
    o = rng.integers(0, 256, (n, 4))
    o[:, 0] = rng.integers(256, 1000, n)
    return [f"{a}.{b}.{c}.{d}" for a, b, c, d in o.tolist()]


@dataclass
class IpDraw:
    lit: np.ndarray              # object: literal placed in the text
    country: np.ndarray          # object: expected country (None on miss)
    hit: np.ndarray              # bool
    bucket: np.ndarray           # int64 /16 bucket of valid v4, else -1


def _resolve(dim: Dim, kind: np.ndarray, v4: np.ndarray, v6_lit, v6_ctry,
             bad) -> IpDraw:
    n = len(kind)
    lit = np.empty(n, dtype=object)
    country = np.empty(n, dtype=object)
    hit = np.zeros(n, dtype=bool)
    bucket = np.full(n, -1, dtype=np.int64)
    m4 = kind <= 1
    idx = lookup_v4(dim, v4[m4])
    ok = (idx >= 0) & ~dim.abort[np.maximum(idx, 0)]
    lit[m4] = _ipv4_str(v4[m4])
    country[m4] = np.where(ok, dim.country[np.maximum(idx, 0)], None)
    hit[m4] = ok
    bucket[m4] = v4[m4] >> 16
    m6 = kind == 2
    lit[m6] = v6_lit
    country[m6] = v6_ctry
    hit[m6] = np.array([c is not None for c in v6_ctry], dtype=bool)
    lit[kind == 3] = bad
    return IpDraw(lit, country, hit, bucket)


def _draw_ips(rng, dim: Dim, spec: TurnSpec, n: int) -> IpDraw:
    shares = KIND_SHARES
    kind = rng.choice(4, n, p=shares / shares.sum())
    if spec.pool is None:
        # near-unique: every IP-bearing turn draws a fresh address
        v4 = np.zeros(n, dtype=np.int64)
        v4[kind == 0] = _draw_v4_alloc(rng, dim, int((kind == 0).sum()))
        v4[kind == 1] = _draw_v4_unalloc(rng, int((kind == 1).sum()))
        v6_lit, v6_ctry = _draw_v6(rng, int((kind == 2).sum()))
        bad = _draw_invalid(rng, int((kind == 3).sum()))
        return _resolve(dim, kind, v4, v6_lit, v6_ctry, bad)
    # pooled: per kind a sub-pool sized by its share, Zipf-ranked draws
    pool_kind = [max(1, int(round(spec.pool * s / shares.sum())))
                 for s in shares]
    pk = np.concatenate([np.full(c, k) for k, c in enumerate(pool_kind)])
    pv4 = np.zeros(len(pk), dtype=np.int64)
    pv4[pk == 0] = _draw_v4_alloc(rng, dim, pool_kind[0], stratified=True)
    pv4[pk == 1] = _draw_v4_unalloc(rng, pool_kind[1])
    p6_lit, p6_ctry = _draw_v6(rng, pool_kind[2])
    pbad = _draw_invalid(rng, pool_kind[3])
    pool = _resolve(dim, pk, pv4, p6_lit, p6_ctry, pbad)
    offsets = np.concatenate([[0], np.cumsum(pool_kind)])
    pick = np.empty(n, dtype=np.int64)
    for k, size in enumerate(pool_kind):
        m = kind == k
        w = 1.0 / np.arange(1, size + 1) ** ZIPF_S
        pick[m] = offsets[k] + rng.choice(size, int(m.sum()), p=w / w.sum())
    return IpDraw(pool.lit[pick], pool.country[pick], pool.hit[pick],
                  pool.bucket[pick])


def _texts(rng, n: int, lo: int, hi: int, lit: np.ndarray) -> list[str]:
    """Filler of lo..hi characters with the literal (if any) at a random
    word position; some texts carry '.'/':' punctuation without an IP (the
    parse prefilter passes, the regex yields nothing) and error codes."""
    vocab = np.array(WORDS, dtype=object)
    mean_w = np.mean([len(w) + 1 for w in WORDS])
    nwords = (rng.integers(lo, hi + 1, n) / mean_w).astype(np.int64) + 1
    total = int(nwords.sum())
    words = vocab[rng.integers(0, len(vocab), total)]
    pos = (rng.random(n) * nwords).astype(np.int64)
    punct = rng.random(n)
    err = rng.integers(100, 1000, n)
    has_err = rng.random(n) < 0.15
    out = []
    off = 0
    for i in range(n):
        k = nwords[i]
        w = list(words[off:off + k])
        off += k
        if lit[i] is not None:
            w.insert(pos[i], lit[i])
        if has_err[i]:
            w.insert(pos[i] // 2, f"E{err[i]}")
        p = punct[i]
        if p < 0.25:
            w[-1] = w[-1] + "."
        elif p < 0.35:
            w.insert(0, "note:")
        out.append(" ".join(w))
    return out


def _sink_probs(top: float) -> np.ndarray:
    n = len(SINKS)
    if top <= 0:
        return np.full(n, 1.0 / n)
    rest = np.linspace(2.0, 1.0, n - 1)
    rest = rest / rest.sum() * (1 - top)
    return np.concatenate([[top], rest])


@dataclass
class Turns:
    n: int
    conv: np.ndarray             # object
    turn_idx: np.ndarray         # int32
    role: np.ndarray             # object
    tool: np.ndarray             # object
    text: list
    ts_s: np.ndarray             # int64 epoch seconds
    country: np.ndarray          # object: expected geoip country (None: miss)
    failure: np.ndarray          # bool: expected lookup-failure tag
    has_ip: np.ndarray           # bool
    ip_lit: np.ndarray           # object
    bucket: np.ndarray           # int64 /16 of valid v4 probes, else -1
    kind_v6: np.ndarray          # bool


def make_turns(rng: np.random.Generator, dim: Dim, spec: TurnSpec,
               conv_prefix: str = "c") -> Turns:
    n = spec.n_turns
    has_ip = rng.random(n) < spec.ip_density
    n_ip = int(has_ip.sum())
    draw = _draw_ips(rng, dim, spec, n_ip)
    lit = np.full(n, None, dtype=object)
    lit[has_ip] = draw.lit
    # the golden leaf rides in the first IP-bearing turns
    first = np.flatnonzero(has_ip)[:3]
    lit[first] = GOLDEN_IP
    country = np.full(n, None, dtype=object)
    country[has_ip] = draw.country
    country[first] = "US"
    hit = np.zeros(n, dtype=bool)
    hit[has_ip] = draw.hit
    hit[first] = True
    bucket = np.full(n, -1, dtype=np.int64)
    bucket[has_ip] = draw.bucket
    bucket[first] = _v4_range(GOLDEN_NETWORK)[0] >> 16
    kind_v6 = np.zeros(n, dtype=bool)
    kind_v6[has_ip] = np.array([":" in s for s in draw.lit], dtype=bool)
    kind_v6[first] = False

    conv_id = rng.integers(0, max(1, n // TURNS_PER_CONV), n)
    if spec.hot_conv_share > 0:
        conv_id[rng.random(n) < spec.hot_conv_share] = -1
    conv = np.array([f"{conv_prefix}{c:07d}" if c >= 0 else f"{conv_prefix}-hot"
                     for c in conv_id.tolist()], dtype=object)
    ts_s = TS_BASE + rng.integers(0, HOURS * 3600, n)
    # turn_idx: arrival order within a conversation, so (conv_id, turn_idx)
    # is unique and stable
    order = np.lexsort((ts_s, conv_id))
    sorted_c = conv_id[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_c)) + 1]
    run = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n]))
    turn_idx = np.empty(n, dtype=np.int32)
    turn_idx[order] = run
    sink = rng.choice(len(SINKS), n, p=_sink_probs(spec.sink_top_share))
    role = np.array([SINKS[s][0] for s in sink.tolist()], dtype=object)
    tool = np.array([SINKS[s][1] for s in sink.tolist()], dtype=object)
    text = _texts(rng, n, TEXT_LO, TEXT_HI, lit)
    return Turns(n, conv, turn_idx, role, tool, text, ts_s, country, ~hit,
                 has_ip, lit, bucket, kind_v6)


def turns_table(t: Turns, sl: slice = slice(None)) -> pa.Table:
    """The engine's transcripts schema: conv_id string, turn_idx int32,
    role string, text string, tool string, ts timestamp(UTC)."""
    return pa.table({
        "conv_id": pa.array(t.conv[sl].tolist(), pa.string()),
        "turn_idx": pa.array(t.turn_idx[sl], pa.int32()),
        "role": pa.array(t.role[sl].tolist(), pa.string()),
        "text": pa.array(t.text[sl], pa.string()),
        "tool": pa.array(t.tool[sl].tolist(), pa.string()),
        "ts": pa.array(t.ts_s[sl] * 1_000_000,
                       pa.timestamp("us", tz="UTC")),
    })


def write_turns(t: Turns, path: str, sl: slice = slice(None)) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(turns_table(t, sl), path, compression="snappy",
                   row_group_size=64 * 1024)
    return path


# ---------------------------------------------------------------------------
# Oracle
# ---------------------------------------------------------------------------


def expected_geo_window(t: Turns, sl: slice = slice(None)) -> dict:
    """(hour epoch seconds, country) → (n_turns, n_failures)."""
    hours = (t.ts_s[sl] // 3600) * 3600
    out: dict = {}
    for h, c, f in zip(hours.tolist(), t.country[sl].tolist(),
                       t.failure[sl].tolist()):
        n, nf = out.get((h, c), (0, 0))
        out[(h, c)] = (n + 1, nf + int(f))
    return out


def expected_sinks(t: Turns, sl: slice = slice(None)) -> dict:
    """(role, tool) → (n_turns, n_failures)."""
    out: dict = {}
    for r, tl, f in zip(t.role[sl].tolist(), t.tool[sl].tolist(),
                        t.failure[sl].tolist()):
        n, nf = out.get((r, tl), (0, 0))
        out[(r, tl)] = (n + 1, nf + int(f))
    return out


def expected_convs(t: Turns, sl: slice = slice(None)) -> dict:
    return dict(Counter(t.conv[sl].tolist()))


def properties(t: Turns, dim: Dim) -> dict:
    """Measured workload properties, recorded with every run."""
    n_ip = int(t.has_ip.sum())
    ip = t.ip_lit[t.has_ip]
    probed = t.bucket[t.bucket >= 0]
    rows = np.array([dim.bucket_rows.get(int(b), 0) for b in probed])
    sinks = Counter(zip(t.role.tolist(), t.tool.tolist()))
    convs = Counter(t.conv.tolist())
    return {
        "turns": t.n,
        "dim_blocks": int(len(dim.starts)),
        "ip_density": n_ip / t.n,
        "distinct_ip_ratio": len(set(ip.tolist())) / max(n_ip, 1),
        "v6_share": float(t.kind_v6.sum()) / max(n_ip, 1),
        "hit_ratio": float((~t.failure).sum()) / t.n,
        "mean_dim_rows_per_probed_16": float(rows.mean()) if len(rows) else 0.0,
        "hot_key_share": max(convs.values()) / t.n,
        "largest_sink_share": max(sinks.values()) / t.n,
        "sinks": len(sinks),
    }
