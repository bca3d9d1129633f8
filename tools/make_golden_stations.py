#!/usr/bin/env python3
"""Regenerates src/test/resources/golden/stations.csv from the stations
shapefile fixture using plain struct unpacking — deliberately sharing NO
code with the Scala shapefile reader, so the CSV is an engine-independent
pin of the fixture. DuckDB oracles re-read this CSV to hash-check the
Spark shapefile/FGB/GML read paths (dev-side tool; never runs in the
library)."""
import struct, csv

dbf = open('src/test/resources/fixtures/stations.dbf', 'rb').read()
nrec = struct.unpack('<I', dbf[4:8])[0]
hdrlen = struct.unpack('<H', dbf[8:10])[0]
reclen = struct.unpack('<H', dbf[10:12])[0]
fields = []
off = 32
while dbf[off] != 0x0D:
    fd = dbf[off:off + 32]
    fields.append((fd[:11].split(b'\0')[0].decode('ascii'), chr(fd[11]), fd[16]))
    off += 32
attrs = []
for i in range(nrec):
    rec = dbf[hdrlen + i * reclen: hdrlen + (i + 1) * reclen]
    assert rec[0:1] in (b' ', b'*')
    vals, p = {}, 1
    for (name, ftype, flen) in fields:
        vals[name] = rec[p:p + flen].decode('utf-8', 'replace').strip()
        p += flen
    attrs.append(vals)

shp = open('src/test/resources/fixtures/stations.shp', 'rb').read()
assert struct.unpack('<i', shp[32:36])[0] == 1  # Point type
pts, p = [], 100
while p < len(shp):
    recno, clen = struct.unpack('>ii', shp[p:p + 8])
    assert struct.unpack('<i', shp[p + 8:p + 12])[0] == 1
    x, y = struct.unpack('<dd', shp[p + 12:p + 28])
    pts.append((x, y))
    p += 8 + clen * 2
assert len(pts) == nrec, (len(pts), nrec)

with open('src/test/resources/golden/stations.csv', 'w', newline='') as f:
    w = csv.writer(f, quoting=csv.QUOTE_ALL)
    w.writerow(['name', 'marker-sym', 'x', 'y'])
    for a, (x, y) in zip(attrs, pts):
        # repr() = shortest round-trip float formatting: DuckDB's CSV
        # parse recovers the bit-identical IEEE double
        w.writerow([a['name'], a['marker-sym'], repr(x), repr(y)])
print('wrote', nrec, 'rows')
