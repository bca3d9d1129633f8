#!/usr/bin/env python3
"""Golden pin of the SpatiaLite comuni read: Python's STDLIB sqlite3
opens the fixture database and a from-the-spec SpatiaLite geometry
blob parse (0x00 / endian / srid / MBR / 0x7C / class, 0x69 entity
markers, ring coordinate arrays) recomputes per row the geometry type,
total vertex count, and area-weighted centroid — sharing no code with
the Scala SQLite b-tree reader or JTS. Centroids round HALF_UP at one
decimal exactly like the Spark query, absorbing float-association
differences between the shoelace implementations (verified: all 13
rows bit-match the Spark output). Dev-side tool; never runs in the
library."""
import sqlite3, struct, csv
from decimal import Decimal, ROUND_HALF_UP


def parse_blob(b):
    assert b[0] == 0 and b[38] == 0x7C
    cls = struct.unpack('<i', b[39:43])[0]
    off = 43

    def read_ring():
        nonlocal off
        n = struct.unpack('<i', b[off:off + 4])[0]; off += 4
        pts = struct.unpack(f'<{2 * n}d', b[off:off + 16 * n]); off += 16 * n
        return [(pts[2 * i], pts[2 * i + 1]) for i in range(n)]

    def read_polygon():
        nonlocal off
        nrings = struct.unpack('<i', b[off:off + 4])[0]; off += 4
        return [read_ring() for _ in range(nrings)]

    if cls == 3:
        return 'Polygon', [read_polygon()]
    if cls == 6:
        npoly = struct.unpack('<i', b[off:off + 4])[0]; off += 4
        polys = []
        for _ in range(npoly):
            assert b[off] == 0x69; off += 1
            assert struct.unpack('<i', b[off:off + 4])[0] == 3; off += 4
            polys.append(read_polygon())
        return 'MultiPolygon', polys
    raise ValueError(f'unsupported class {cls}')


def ring_area_centroid(r):
    a2 = cx = cy = 0.0
    for i in range(len(r) - 1):
        x0, y0 = r[i]; x1, y1 = r[i + 1]
        cross = x0 * y1 - x1 * y0
        a2 += cross; cx += (x0 + x1) * cross; cy += (y0 + y1) * cross
    return a2 / 2.0, (cx, cy)


def geom_centroid(polys):
    W = CX = CY = 0.0
    for rings in polys:
        for k, r in enumerate(rings):
            a, (cx, cy) = ring_area_centroid(r)
            w = abs(a) if k == 0 else -abs(a)  # shells add, holes subtract
            CX += w * (cx / (6.0 * a))  # signed formula is
            CY += w * (cy / (6.0 * a))  # orientation-self-consistent
            W += w
    return CX / W, CY / W


def r1(x):  # HALF_UP like Spark round(x, 1), not Python's banker's
    return float(Decimal(repr(x)).quantize(Decimal('0.1'), rounding=ROUND_HALF_UP))


con = sqlite3.connect('src/test/resources/fixtures/test_spatialite.sqlite')
with open('src/test/resources/golden/comuni.csv', 'w', newline='') as f:
    w = csv.writer(f, quoting=csv.QUOTE_ALL)
    w.writerow(['fid', 'code', 'name', 'gtype', 'npoints', 'cx', 'cy'])
    for rowid, code, name, blob in con.execute(
            "SELECT rowid, code, name, geometry FROM comuni ORDER BY code, rowid"):
        gtype, polys = parse_blob(bytes(blob))
        npts = sum(len(r) for p in polys for r in p)
        cx, cy = geom_centroid(polys)
        w.writerow([rowid, code, name, gtype, npts, r1(cx), r1(cy)])
print('wrote 13 rows')
