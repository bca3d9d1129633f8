#!/usr/bin/env python3
"""Golden pin of the us_states GeoJSON fixture's GEOMETRY facts (the
attribute half is already oracled by DuckDB's read_json): per feature,
the geometry type and total vertex count, computed by plain JSON
walking — no geometry library, no shared code with the Scala reader.
All rings in the fixture are closed, so the raw coordinate count equals
JTS's st_npoints of the parsed geometry. Dev-side tool; never runs in
the library."""
import json, csv

fc = json.load(open(
    'src/test/resources/fixtures/us_states.feature_collection.implicit_4326.json'))

def count_coords(geom):
    t, c = geom['type'], geom['coordinates']
    if t == 'Polygon':
        return sum(len(r) for r in c)
    if t == 'MultiPolygon':
        return sum(len(r) for poly in c for r in poly)
    raise ValueError(t)

with open('src/test/resources/golden/us_states_geom.csv', 'w', newline='') as f:
    w = csv.writer(f, quoting=csv.QUOTE_ALL)
    w.writerow(['name', 'iso_3166_2', 'gtype', 'npoints'])
    for feat in fc['features']:
        g = feat['geometry']
        w.writerow([feat['properties']['name'], feat['properties']['iso_3166_2'],
                    g['type'], count_coords(g)])
print('wrote', len(fc['features']), 'rows')
