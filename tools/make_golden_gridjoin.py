#!/usr/bin/env python3
"""Golden pin of the tiled spatial join: the same deterministic 10,000-
point CONUS grid the gdal_spatial_join_tiled query generates, tested
against the us_states polygons with plain even-odd ray casting — no
geometry library, no shared code with the JTS path. Grid coordinates
use the identical IEEE expression the query builds — NOTE the latitude
uses FLOAT division (Spark's `col("id") / 100` on longs is double
division): lon = -124.0 + (i%100)*0.57, lat = 25.0 + (i/100)*0.24 —
and boundary incidence is measure-zero for this artificial grid, so
interior membership agrees with JTS st_contains.
Dev-side tool; never runs in the library."""
import json, csv

fc = json.load(open(
    'src/test/resources/fixtures/us_states.feature_collection.implicit_4326.json'))

def pip_ring(x, y, ring):
    inside = False
    j = len(ring) - 1
    for i in range(len(ring)):
        xi, yi = ring[i]
        xj, yj = ring[j]
        if (yi > y) != (yj > y):
            if x < (xj - xi) * (y - yi) / (yj - yi) + xi:
                inside = not inside
        j = i
    return inside

def pip_polygon(x, y, rings):
    return sum(1 for r in rings if pip_ring(x, y, r)) % 2 == 1

def contains(x, y, geom):
    if geom['type'] == 'Polygon':
        return pip_polygon(x, y, geom['coordinates'])
    return any(pip_polygon(x, y, p) for p in geom['coordinates'])

counts = {}
for i in range(10000):
    lon = -124.0 + (i % 100) * 0.57
    lat = 25.0 + (i / 100) * 0.24
    for f in fc['features']:
        if contains(lon, lat, f['geometry']):
            name = f['properties']['name']
            counts[name] = counts.get(name, 0) + 1

with open('src/test/resources/golden/us_states_gridjoin.csv', 'w', newline='') as f:
    w = csv.writer(f, quoting=csv.QUOTE_ALL)
    w.writerow(['name', 'n_points'])
    for k in sorted(counts):
        w.writerow([k, counts[k]])
print('wrote', len(counts), 'states,', sum(counts.values()), 'points')
