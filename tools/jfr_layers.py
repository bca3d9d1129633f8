#!/usr/bin/env python3
"""Bucket JFR CPU samples of an iobench run by layer of the read path.

    jfr print --json --stack-depth 300 --events jdk.ExecutionSample rec.jfr > rec.json
    python3 tools/jfr_layers.py [--last 10] rec.json [other.json ...]

Reads each dump as a stream (dumps run to hundreds of MB), keeps the Java
thread samples of its last `--last` seconds (the timed loop of a run that
ends right after it), and charges each sample to one layer:

  planSplits       any frame is a format's planSplits (driver split planning)
  infer.<fmt>      any frame is FeatureSourceProvider.inferSchema (schemaless
                   load); <fmt> from the innermost reader frame, `shared` when
                   the sample is in SchemaInference itself
  otherwise the innermost frame of a known layer, walking from the leaf:
  parse.<fmt>      a reader's own classes; `sqlite` for the gpkg/spatialite
                   shared SQLite code, resolved to gpkg or spatialite when a
                   frame further up names one
  convert          RowConverter / FirstValues
  digest           iobench's digest fold (the harness; a control)
  projection       Spark's generated unsafe projection
  reader           the DSv2 partition reader's own window/filter code
  other            none of these (Spark scheduling, JIT'd library code, ...)

A sample in library code (String.hashCode, HashMap.get, JTS, Jackson) is
charged to the innermost layer frame above it. With several dumps, the
table has one column per dump, in the order given; each cell is the
layer's share of the dump's samples and, in brackets, its sample count
and its count per 100 `digest` samples. The digest fold does the same
work per operation on both sides of an A/B, so the count per 100 digest
samples is the layer's cost per unit of work: it compares directly
between dumps that ran different numbers of operations. Stdlib only.

Typical use: run iobench from a scratch copy of each checkout with
`JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=1024
-XX:StartFlightRecording=dumponexit=true,filename=rec.jfr,settings=profile"`
after one plain run has built it (so the build's own JVM is not recorded).
"""
import argparse
import json
import re
import sys
from datetime import datetime, timezone

CHUNK = 1 << 22

# (class-name prefix, format); first match wins, so longer prefixes first
READERS = [
    ("graft.sources.geojson.GeoJsonSeqFormat", "geojsonseq"),
    ("graft.sources.geojson.GeoJsonFormat", "geojson"),
    ("graft.sources.geojson.", None),  # shared GeoJSON decode: resolved further up
    ("graft.sources.shapefile.", "shapefile"),
    ("graft.sources.flatgeobuf.", "flatgeobuf"),
    ("graft.sources.gpkg.", "gpkg"),
    ("graft.sources.spatialite.SpatiaLiteFormat", "spatialite"),
    ("graft.sources.spatialite.SpatiaLiteGeom", "spatialite"),
    ("graft.sources.spatialite.", "sqlite"),  # SqliteFile, SqliteVectorFormat
    ("graft.sources.csvgeo.", "csvgeo"),
    ("graft.sources.xml.", "xml"),
    ("graft.sources.arrow.", "arrow"),
    ("graft.geom.", None),  # codecs: charged to the reader that calls them
]
SPECIFIC = {"gpkg", "spatialite"}


def events(path):
    """The event objects of a `jfr print --json` dump, one at a time."""
    dec = json.JSONDecoder()
    with open(path, encoding="utf-8") as f:
        buf = f.read(CHUNK)
        start = buf.find('"events"')
        if start < 0:
            return
        i = buf.index("[", start) + 1
        while True:
            while i < len(buf) and buf[i] in " \t\r\n,":
                i += 1
            if i >= len(buf):
                more = f.read(CHUNK)
                if not more:
                    return
                buf, i = more, 0
                continue
            if buf[i] == "]":
                return
            try:
                obj, end = dec.raw_decode(buf, i)
            except json.JSONDecodeError:
                more = f.read(CHUNK)
                if not more:
                    raise
                buf, i = buf[i:] + more, 0
                continue
            yield obj
            i = end
            if i > CHUNK:
                buf, i = buf[i:], 0


def time_ns(stamp):
    """`2026-01-02T03:04:05.123456789Z` → ns since the epoch."""
    m = re.match(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?", stamp)
    secs = datetime.strptime(m.group(1), "%Y-%m-%dT%H:%M:%S").replace(tzinfo=timezone.utc)
    frac = (m.group(2) or "0")[:9].ljust(9, "0")
    return int(secs.timestamp()) * 10**9 + int(frac)


def frames(event):
    """The sample's frames as `class.method`, leaf first."""
    out = []
    for fr in (event["values"].get("stackTrace") or {}).get("frames", []):
        m = fr["method"]
        out.append(m["type"]["name"].replace("/", ".") + "." + m["name"])
    return out


def reader_of(frame):
    for prefix, fmt in READERS:
        if frame.startswith(prefix):
            return True, fmt
    return False, None


def fmt_from(stack, at):
    """The format of the innermost reader frame at or above `stack[at]`."""
    fmt = None
    for fr in stack[at:]:
        known, f = reader_of(fr)
        if known and f is not None:
            if f in SPECIFIC:
                return f
            if fmt is None:
                fmt = f
            if f != "sqlite":
                return fmt
    return fmt


def layer(stack):
    if any(".planSplits" in fr for fr in stack):
        return "planSplits"
    if any(fr.startswith("graft.sources.FeatureSourceProvider.inferSchema") for fr in stack):
        for i, fr in enumerate(stack):
            if reader_of(fr)[0]:
                return "infer." + (fmt_from(stack, i) or "shared")
        return "infer.shared"
    for i, fr in enumerate(stack):
        known, _ = reader_of(fr)
        if known:
            return "parse." + (fmt_from(stack, i) or "shared")
        if fr.startswith(("graft.sources.RowConverter", "graft.sources.FirstValues")):
            return "convert"
        if fr.startswith("iobench.Digest"):
            return "digest"
        if "SpecificUnsafeProjection" in fr or "UnsafeProjection" in fr:
            return "projection"
        if fr.startswith("graft.sources.FeaturePartitionReader"):
            return "reader"
    return "other"


def buckets(path, last_s):
    samples = []
    for ev in events(path):
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        samples.append((time_ns(ev["values"]["startTime"]), layer(frames(ev))))
    if not samples:
        return {}, 0
    cut = max(t for t, _ in samples) - int(last_s * 1e9)
    counts = {}
    n = 0
    for t, name in samples:
        if t >= cut:
            counts[name] = counts.get(name, 0) + 1
            n += 1
    return counts, n


def per_digest(counts, name):
    """`name`'s samples per 100 digest samples, or `-` without any."""
    d = counts.get("digest", 0)
    return f"{100.0 * counts.get(name, 0) / d:.0f}" if d else "-"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dumps", nargs="+", help="`jfr print --json` outputs")
    ap.add_argument("--last", type=float, default=10.0, help="seconds at the end to keep")
    a = ap.parse_args()
    cols = [buckets(p, a.last) for p in a.dumps]
    names = sorted({k for c, _ in cols for k in c}, key=lambda k: -max(c.get(k, 0) / max(n, 1) for c, n in cols))
    head = "| layer | " + " | ".join(f"{p} (n={n})" for p, (_, n) in zip(a.dumps, cols)) + " |"
    print(head)
    print("|---|" + "---|" * len(cols))
    for k in names:
        cells = [f"{100.0 * c.get(k, 0) / n:.1f} % ({c.get(k, 0)}; {per_digest(c, k)})" if n else "-"
                 for c, n in cols]
        print(f"| {k} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    sys.exit(main())
