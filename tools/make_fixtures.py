#!/usr/bin/env python3
"""Writes the GDAL test fixtures into src/test/resources/fixtures/.

Seven fixture sets, shaped like the GDAL test data the reference's own
tests read (FIXTURES.md section A): a point shapefile and its .shp.zip,
two GeoJSON FeatureCollections, a lat/lon CSV, a SpatiaLite database and
an Arrow IPC file. Stdlib struct/json/zipfile/sqlite3 plus pyarrow only:
nothing here shares code with the Scala readers, so a fixture is an
independent statement of what a reader must return.

The facts the tests and the board entries check come from committed
documents, never from what our readers print:
  - stations: name, marker-sym and the exact IEEE x/y of all 86 points,
    in file order, from src/test/resources/golden/stations.csv;
  - us_states: name, iso_3166_2, geometry type and vertex count of all
    51 features, in file order, from golden/us_states_geom.csv;
  - comuni: fid (= rowid), code, name, vertex count and rounded
    area-weighted centroid of all 13 rows from golden/comuni.csv;
  - counts, column names and types, and the few spot values the tests
    assert (FIXTURES.md).
Everything else is synthetic and listed in FIXTURES.md. The output is
byte-deterministic: fixed row order, fixed zip timestamps, fixed DBF
date, geometry from closed-form formulas. Run from anywhere:

    python3 tools/make_fixtures.py
"""
import csv
import json
import math
import os
import sqlite3
import struct
import zipfile

import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, 'src', 'test', 'resources', 'golden')
OUT = os.path.join(ROOT, 'src', 'test', 'resources', 'fixtures')


def read_golden(name):
    with open(os.path.join(GOLDEN, name), newline='') as f:
        return list(csv.DictReader(f))


def write_bytes(name, data):
    with open(os.path.join(OUT, name), 'wb') as f:
        f.write(data)


def frac(k):
    """Deterministic pseudo-random number in [0, 1) for an integer k."""
    return (math.sin(k * 12.9898 + 78.233) * 43758.5453) % 1.0


def star_ring(cx, cy, r, n, seed, jitter=0.2):
    """Closed ring of n coordinates (n - 1 distinct vertices + closing
    copy), counter-clockwise, star-shaped around (cx, cy): angles strictly
    increase and every vertex lies at a radius in [(1 - jitter) r, r], so
    the ring is simple and stays inside the disc of radius r."""
    m = n - 1
    pts = []
    for k in range(m):
        a = 2 * math.pi * (k + 0.3 * frac(seed * 1000 + k)) / m
        rk = r * (1 - jitter * frac(seed * 7919 + k))
        pts.append([round(cx + rk * math.cos(a), 6), round(cy + rk * math.sin(a), 6)])
    return pts + [list(pts[0])]


def pip_ring(x, y, ring):
    inside = False
    j = len(ring) - 1
    for i in range(len(ring)):
        xi, yi = ring[i]
        xj, yj = ring[j]
        if (yi > y) != (yj > y) and x < (xj - xi) * (y - yi) / (yj - yi) + xi:
            inside = not inside
        j = i
    return inside


def seg_dist(px, py, a, b):
    (ax, ay), (bx, by) = a, b
    dx, dy = bx - ax, by - ay
    t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / (dx * dx + dy * dy)))
    return math.hypot(px - (ax + t * dx), py - (ay + t * dy))


# ------------------------------------------------------------- stations

PRJ_WGS84 = ('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
             'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
             'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]')

# synthetic: the golden CSV holds no marker-col/line values
METRO_LINES = [('red', '#ff0000'), ('orange', '#ff8c00'), ('blue', '#0000ff'),
               ('green', '#008000'), ('yellow', '#ffd700'), ('silver', '#a0a0a0'),
               ('blue, orange, silver', '#0000ff'), ('green, yellow', '#008000')]


def shp_header(file_words, box):
    return (struct.pack('>7i', 9994, 0, 0, 0, 0, 0, file_words) +
            struct.pack('<2i4d4d', 1000, 1, *box, 0.0, 0.0, 0.0, 0.0))


def make_stations():
    rows = read_golden('stations.csv')
    pts = [(float(r['x']), float(r['y'])) for r in rows]
    box = (min(p[0] for p in pts), min(p[1] for p in pts),
           max(p[0] for p in pts), max(p[1] for p in pts))
    n = len(pts)

    shp = shp_header(50 + n * 14, box)
    shx = shp_header(50 + n * 4, box)
    for i, (x, y) in enumerate(pts):
        shx += struct.pack('>2i', (100 + i * 28) // 2, 10)
        shp += struct.pack('>2i', i + 1, 10) + struct.pack('<i2d', 1, x, y)

    fields = ['name', 'marker-col', 'marker-sym', 'line']
    flen = 254
    hdr_len = 32 + 32 * len(fields) + 1
    rec_len = 1 + flen * len(fields)
    # dBASE III, fixed last-update date 1995-07-26, language driver 0
    dbf = struct.pack('<4BIHH20x', 0x03, 95, 7, 26, n, hdr_len, rec_len)
    for name in fields:
        dbf += (name.encode('ascii').ljust(11, b'\0') + b'C' + b'\0' * 4 +
                bytes([flen, 0]) + b'\0' * 14)
    dbf += b'\x0d'
    for i, r in enumerate(rows):
        line, col = METRO_LINES[i % len(METRO_LINES)]
        vals = [r['name'], col, r['marker-sym'], line]
        dbf += b' ' + b''.join(v.encode('utf-8').ljust(flen, b' ') for v in vals)
    dbf += b'\x1a'

    parts = [('stations.shp', shp), ('stations.shx', shx),
             ('stations.dbf', dbf), ('stations.prj', PRJ_WGS84.encode('ascii'))]
    for name, data in parts:
        write_bytes(name, data)
    zpath = os.path.join(OUT, 'stations_shapefile.shp.zip')
    with zipfile.ZipFile(zpath, 'w') as z:
        for name, data in parts:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.create_system = 3
            info.external_attr = 0o644 << 16
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data, compresslevel=9)

    dc = [p for p in pts if -77.05 <= p[0] <= -76.99 and 38.88 <= p[1] <= 38.92]
    assert n == 86 and len(dc) == 19, (n, len(dc))


# ------------------------------------------------------------ us_states

# Synthetic layout: one disc-bounded star polygon per part, centred near
# the state's real centre; each part is (lon, lat, radius cap), and the
# vertex counts come from the golden CSV. California, Nevada and Oregon
# sit inside -125,32,-114,42 (BboxSpec); District of Columbia holds the
# Washington point of cities.arrow.
STATE_PARTS = {
    'Minnesota': [(-94.3, 46.3, 1.6)], 'Montana': [(-109.6, 47.0, 1.6)],
    'North Dakota': [(-100.5, 47.5, 1.6)],
    'Hawaii': [(-155.5, 19.6, 0.8), (-156.3, 20.8, 0.35),
               (-157.9, 21.45, 0.3), (-159.5, 22.05, 0.3)],
    'Idaho': [(-114.6, 44.4, 1.6)], 'Washington': [(-120.5, 47.4, 1.6)],
    'Arizona': [(-111.7, 34.3, 1.6)], 'California': [(-119.8, 36.9, 1.6)],
    'Colorado': [(-105.5, 39.0, 1.6)], 'Nevada': [(-116.6, 39.0, 1.6)],
    'New Mexico': [(-106.1, 34.4, 1.6)], 'Oregon': [(-121.3, 40.3, 1.6)],
    'Utah': [(-111.7, 39.3, 1.6)], 'Wyoming': [(-107.5, 43.0, 1.6)],
    'Arkansas': [(-92.4, 34.9, 1.6)], 'Iowa': [(-93.5, 42.1, 1.6)],
    'Kansas': [(-98.4, 38.5, 1.6)], 'Missouri': [(-92.5, 38.4, 1.6)],
    'Nebraska': [(-99.8, 41.5, 1.6)], 'Oklahoma': [(-97.5, 35.6, 1.6)],
    'South Dakota': [(-100.2, 44.4, 1.6)], 'Louisiana': [(-92.0, 31.0, 1.6)],
    'Texas': [(-99.3, 31.5, 1.6)], 'Connecticut': [(-72.7, 41.6, 1.6)],
    'Massachusetts': [(-71.8, 42.3, 1.6)], 'New Hampshire': [(-71.6, 43.7, 1.6)],
    'Rhode Island': [(-71.5, 41.7, 1.6)], 'Vermont': [(-72.7, 44.0, 1.6)],
    'Alabama': [(-86.8, 32.8, 1.6)], 'Florida': [(-81.7, 28.6, 1.6)],
    'Georgia': [(-83.4, 32.7, 1.6)], 'Mississippi': [(-89.7, 32.7, 1.6)],
    'South Carolina': [(-80.9, 33.9, 1.6)], 'Illinois': [(-89.2, 40.0, 1.6)],
    'Indiana': [(-86.3, 39.9, 1.6)], 'Kentucky': [(-85.3, 37.5, 1.6)],
    'North Carolina': [(-79.4, 35.6, 1.6)], 'Ohio': [(-82.8, 40.3, 1.6)],
    'Tennessee': [(-86.3, 35.9, 1.6)],
    'Virginia': [(-78.9, 37.4, 1.6), (-75.8, 37.6, 0.25)],
    'Wisconsin': [(-89.9, 44.6, 1.6)], 'West Virginia': [(-80.6, 38.6, 1.6)],
    'Delaware': [(-75.5, 39.0, 1.6)], 'District of Columbia': [(-77.02, 38.9, 1.6)],
    'Maryland': [(-76.8, 39.05, 1.6)], 'New Jersey': [(-74.6, 40.2, 1.6)],
    'New York': [(-75.5, 42.9, 1.6)], 'Pennsylvania': [(-77.6, 40.9, 1.6)],
    'Maine': [(-69.2, 45.4, 1.6)], 'Michigan': [(-84.7, 43.7, 1.6)],
    'Alaska': [(-152.0, 64.0, 4.0), (-153.5, 57.3, 0.8),
               (-133.5, 56.5, 0.8), (-170.3, 57.2, 0.5)],
}

# vertex count of each part for the multi-part states (sum = golden npoints)
PART_POINTS = {'Hawaii': [14, 12, 11, 10], 'Virginia': [61, 8],
               'Alaska': [120, 16, 14, 14]}

FIPS = {'AL': 1, 'AK': 2, 'AZ': 4, 'AR': 5, 'CA': 6, 'CO': 8, 'CT': 9, 'DE': 10,
        'DC': 11, 'FL': 12, 'GA': 13, 'HI': 15, 'ID': 16, 'IL': 17, 'IN': 18,
        'IA': 19, 'KS': 20, 'KY': 21, 'LA': 22, 'ME': 23, 'MD': 24, 'MA': 25,
        'MI': 26, 'MN': 27, 'MS': 28, 'MO': 29, 'MT': 30, 'NE': 31, 'NV': 32,
        'NH': 33, 'NJ': 34, 'NM': 35, 'NY': 36, 'NC': 37, 'ND': 38, 'OH': 39,
        'OK': 40, 'OR': 41, 'PA': 42, 'RI': 44, 'SC': 45, 'SD': 46, 'TN': 47,
        'TX': 48, 'UT': 49, 'VT': 50, 'VA': 51, 'WA': 53, 'WV': 54, 'WI': 55,
        'WY': 56}

REGION = {}
for _r, _codes in [('Northeast', 'CT ME MA NH RI VT NJ NY PA'),
                   ('Midwest', 'IL IN MI OH WI IA KS MN MO NE ND SD'),
                   ('South', 'DE DC FL GA MD NC SC VA WV AL KY MS TN AR LA OK TX'),
                   ('West', 'AZ CO ID MT NV NM UT WY AK CA HI OR WA')]:
    for _c in _codes.split():
        REGION[_c] = _r

NOTES = {'DC': 'Federal district, not a state', 'AK': 'Crosses the antimeridian in full data',
         'HI': 'Island chain'}


def part_radii(parts):
    """Radius of every part: at most 45% of the distance to the nearest
    other part centre (so no two discs can touch) and at most its cap."""
    radii = []
    for i, (x, y, cap) in enumerate(parts):
        nn = min(math.hypot(x - u, y - v) for j, (u, v, _) in enumerate(parts) if j != i)
        radii.append(min(0.45 * nn, cap))
    return radii


def state_features():
    golden = read_golden('us_states_geom.csv')
    radii = part_radii([p for g in golden for p in STATE_PARTS[g['name']]])
    feats, k = [], 0
    for idx, g in enumerate(golden):
        name, iso, npts = g['name'], g['iso_3166_2'], int(g['npoints'])
        parts = STATE_PARTS[name]
        counts = PART_POINTS.get(name, [npts])
        assert sum(counts) == npts and len(counts) == len(parts), name
        polys = []
        for (x, y, _), n in zip(parts, counts):
            polys.append([star_ring(x, y, radii[k], n, seed=k + 1)])
            k += 1
        if g['gtype'] == 'Polygon':
            assert len(polys) == 1, name
            geom = {'type': 'Polygon', 'coordinates': polys[0]}
        else:
            assert g['gtype'] == 'MultiPolygon' and len(polys) > 1, name
            geom = {'type': 'MultiPolygon', 'coordinates': polys}
        feats.append((idx, name, iso, geom))
    return feats


def ring_area(r):
    return 0.5 * sum(r[i][0] * r[i + 1][1] - r[i + 1][0] * r[i][1] for i in range(len(r) - 1))


def state_props(idx, name, iso, geom):
    postal = iso[3:]
    fips = FIPS[postal]
    polys = [geom['coordinates']] if geom['type'] == 'Polygon' else geom['coordinates']
    lat = polys[0][0][0][1]
    deg2 = sum(abs(ring_area(p[0])) for p in polys)
    km2 = deg2 * 111.32 * 111.32 * math.cos(math.radians(lat))
    # int for most states, double for every third: a mixed int/double column
    area = round(km2, 1) if idx % 3 == 0 else int(round(km2))
    code = f'USA-35{fips:02d}'
    p = {
        'scalerank': 2, 'adm1_code': code, 'diss_me': 3500 + fips,
        'adm1_cod_1': code, 'iso_3166_2': iso,
        'wikipedia': 'http://en.wikipedia.org/wiki/' + name.replace(' ', '_'),
        'sr_sov_a3': 'US1', 'sr_adm0_a3': 'USA', 'iso_a2': 'US', 'adm0_sr': 1,
        'admin0_lab': 2, 'name': name,
        'name_alt': None if idx % 4 == 1 else f'{postal}|{name[:4]}.',
        'name_local': None,
        'type': 'Federal District' if postal == 'DC' else 'State',
        'type_en': 'Federal District' if postal == 'DC' else 'State',
        'code_local': f'US{fips:02d}', 'code_hasc': f'US.{postal}',
    }
    if postal in NOTES:
        p['note'] = NOTES[postal]
    p.update({
        'hasc_maybe': None, 'region': REGION[postal],
        'region_cod': None if idx % 5 == 2 else f'USA-{REGION[postal][:2].upper()}',
        'region_big': None, 'big_code': None, 'provnum_ne': fips,
        'gadm_level': 1, 'check_me': 20, 'scaleran_1': 2, 'datarank': 1 + idx % 4,
        'abbrev': name[:4] + '.', 'postal': postal, 'area_sqkm': area,
        'sameascity': -99, 'labelrank': 0 if idx % 2 else 2,
        'featurecla': 'Admin-1 scale rank', 'name_len': len(name),
        'mapcolor9': 1 + idx % 9, 'mapcolor13': 1 + idx % 13,
        'fips': f'US{fips:02d}', 'woe_id': 2347559 + fips,
    })
    return p


def dump_collection(name, features):
    """One feature per line; json's float repr is shortest-round-trip."""
    lines = [json.dumps(f, separators=(',', ':'), ensure_ascii=False) for f in features]
    text = ('{"type":"FeatureCollection","features":[\n' + ',\n'.join(lines) + '\n]}\n')
    write_bytes(name, text.encode('utf-8'))


def grid_points():
    """The two point grids the spatial-join tests build (GdalQueries
    gdal_spatial_join_tiled, SpatialFnsSpec), with their exact IEEE
    expressions: Spark's long / long is double division."""
    g1 = [(-124.0 + (i % 100) * 0.57, 25.0 + (i / 100) * 0.24) for i in range(10000)]
    g2 = [(-124.0 + float(i % 50) * 1.14, 25.0 + float(i / 50) * 0.6) for i in range(2000)]
    return g1 + g2


def check_states(feats, cities):
    rings = [(name, p[0]) for _, name, _, g in feats
             for p in ([g['coordinates']] if g['type'] == 'Polygon' else g['coordinates'])]
    for name, r in rings:
        assert r[0] == r[-1] and len(r) >= 4, name
    # no grid point within 1e-7 degrees of any edge: even-odd ray casting
    # and JTS agree on every point
    pts = grid_points()
    for name, r in rings:
        xs, ys = [p[0] for p in r], [p[1] for p in r]
        x0, x1, y0, y1 = min(xs), max(xs), min(ys), max(ys)
        for px, py in pts:
            if x0 - 1e-6 <= px <= x1 + 1e-6 and y0 - 1e-6 <= py <= y1 + 1e-6:
                d = min(seg_dist(px, py, r[i], r[i + 1]) for i in range(len(r) - 1))
                assert d > 1e-7, (name, px, py, d)
    # CA/NV/OR inside BboxSpec's box
    for name, r in rings:
        if name in ('California', 'Nevada', 'Oregon'):
            assert all(-125 <= x <= -114 and 32 <= y <= 42 for x, y in r), name
    # the only city inside a state: Washington, in District of Columbia
    hits = [(c, name) for c, cx, cy in cities for name, r in rings if pip_ring(cx, cy, r)]
    assert hits == [('Washington, D.C.', 'District of Columbia')], hits


def make_us_states(cities):
    feats = state_features()
    check_states(feats, cities)
    dump_collection('us_states.feature_collection.implicit_4326.json', [
        {'type': 'Feature', 'properties': state_props(i, n, iso, g), 'geometry': g}
        for i, n, iso, g in feats])


# ---------------------------------------------------------------- lakes

SYLLABLES = ['ka', 'lo', 'mi', 'ra', 'sen', 'tu', 'va', 'bel', 'do', 'ne',
             'pi', 'gor', 'an', 'chu', 'el', 'ya', 'ost', 'ri', 'ma', 'kel']
ADMINS = ['Canada', 'Russia', 'United States of America', 'Finland', 'Sweden',
          'China', 'Brazil', 'Tanzania', 'Kazakhstan', 'Argentina']


def lake_name(i):
    s = ''.join(SYLLABLES[int(frac(i * 31 + j) * len(SYLLABLES))] for j in range(2 + i % 2))
    return 'Lake ' + s.capitalize()


def make_lakes():
    feats = []
    for i in range(398):
        lon = round(-170 + 340 * frac(i * 3 + 1), 4)
        lat = round(-50 + 120 * frac(i * 3 + 2), 4)
        r = 0.05 + 0.4 * frac(i * 3 + 3)
        n = 6 + int(frac(i * 5 + 4) * 30)
        rings = [star_ring(lon, lat, r, n, seed=5000 + i)]
        if i % 11 == 0:  # an island: a hole well inside the shell
            hole = star_ring(lon, lat, 0.3 * r, 6, seed=9000 + i, jitter=0.0)
            rings.append([hole[0]] + hole[-2:0:-1] + [hole[0]])  # clockwise
        props = {
            'scalerank': i % 10,
            'name': None if i % 6 == 5 else lake_name(i),
            'name_alt': lake_name(i + 1000) if i % 9 == 0 else None,
            'note': 'seasonal' if i % 23 == 0 else None,
            'admin': ADMINS[i % len(ADMINS)] if i % 4 == 0 else None,
            'featureclass': 'Reservoir' if i % 13 == 0 else 'Lake',
        }
        feats.append({'type': 'Feature', 'properties': props,
                      'geometry': {'type': 'Polygon', 'coordinates': rings}})
    dump_collection('global_large_lakes.feature_collection.implicit_4326.json', feats)


# ------------------------------------------------------------- countries

# Approximate country centres (lat, lon). Synthetic apart from the tested
# rows: AD 42.5/1.5 (SourcesSpec, CsvGeoWriteSpec) and one Latitude = 0
# row (CD; the gdal_webmercator signed-zero comment).
COUNTRIES = """\
AD|Andorra|42.5|1.5
AE|United Arab Emirates|24|54
AF|Afghanistan|33|65
AG|Antigua and Barbuda|17.05|-61.8
AI|Anguilla|18.25|-63.1667
AL|Albania|41|20
AM|Armenia|40|45
AN|Netherlands Antilles|12.25|-68.75
AO|Angola|-12.5|18.5
AP|Asia/Pacific Region|35|105
AQ|Antarctica|-90|0
AR|Argentina|-34|-64
AS|American Samoa|-14.3333|-170
AT|Austria|47.3333|13.3333
AU|Australia|-27|133
AW|Aruba|12.5|-69.9667
AZ|Azerbaijan|40.5|47.5
BA|Bosnia and Herzegovina|44|18
BB|Barbados|13.1667|-59.5333
BD|Bangladesh|24|90
BE|Belgium|50.8333|4
BF|Burkina Faso|13|-2
BG|Bulgaria|43|25
BH|Bahrain|26|50.55
BI|Burundi|-3.5|30
BJ|Benin|9.5|2.25
BM|Bermuda|32.3333|-64.75
BN|Brunei Darussalam|4.5|114.6667
BO|Bolivia|-17|-65
BR|Brazil|-10|-55
BS|Bahamas|24.25|-76
BT|Bhutan|27.5|90.5
BV|Bouvet Island|-54.4333|3.4
BW|Botswana|-22|24
BY|Belarus|53|28
BZ|Belize|17.25|-88.75
CA|Canada|60|-95
CC|Cocos (Keeling) Islands|-12.5|96.8333
CD|Congo, The Democratic Republic of the|0|25
CF|Central African Republic|7|21
CG|Congo|-1|15
CH|Switzerland|47|8
CI|Cote d'Ivoire|8|-5
CK|Cook Islands|-21.2333|-159.7667
CL|Chile|-30|-71
CM|Cameroon|6|12
CN|China|35|105
CO|Colombia|4|-72
CR|Costa Rica|10|-84
CU|Cuba|21.5|-80
CV|Cape Verde|16|-24
CX|Christmas Island|-10.5|105.6667
CY|Cyprus|35|33
CZ|Czech Republic|49.75|15.5
DE|Germany|51|9
DJ|Djibouti|11.5|43
DK|Denmark|56|10
DM|Dominica|15.4167|-61.3333
DO|Dominican Republic|19|-70.6667
DZ|Algeria|28|3
EC|Ecuador|-2|-77.5
EE|Estonia|59|26
EG|Egypt|27|30
EH|Western Sahara|24.5|-13
ER|Eritrea|15|39
ES|Spain|40|-4
ET|Ethiopia|8|38
EU|Europe|47|8
FI|Finland|64|26
FJ|Fiji|-18|175
FK|Falkland Islands (Malvinas)|-51.75|-59
FM|Micronesia, Federated States of|6.9167|158.25
FO|Faroe Islands|62|-7
FR|France|46|2
GA|Gabon|-1|11.75
GB|United Kingdom|54|-2
GD|Grenada|12.1167|-61.6667
GE|Georgia|42|43.5
GF|French Guiana|4|-53
GH|Ghana|8|-2
GI|Gibraltar|36.1833|-5.3667
GL|Greenland|72|-40
GM|Gambia|13.4667|-16.5667
GN|Guinea|11|-10
GP|Guadeloupe|16.25|-61.5833
GQ|Equatorial Guinea|2|10
GR|Greece|39|22
GS|South Georgia and the South Sandwich Islands|-54.5|-37
GT|Guatemala|15.5|-90.25
GU|Guam|13.4667|144.7833
GW|Guinea-Bissau|12|-15
GY|Guyana|5|-59
HK|Hong Kong|22.25|114.1667
HM|Heard Island and McDonald Islands|-53.1|72.5167
HN|Honduras|15|-86.5
HR|Croatia|45.1667|15.5
HT|Haiti|19|-72.4167
HU|Hungary|47|20
ID|Indonesia|-5|120
IE|Ireland|53|-8
IL|Israel|31.5|34.75
IN|India|20|77
IO|British Indian Ocean Territory|-6|71.5
IQ|Iraq|33|44
IR|Iran, Islamic Republic of|32|53
IS|Iceland|65|-18
IT|Italy|42.8333|12.8333
JM|Jamaica|18.25|-77.5
JO|Jordan|31|36
JP|Japan|36|138
KE|Kenya|1|38
KG|Kyrgyzstan|41|75
KH|Cambodia|13|105
KI|Kiribati|1.4167|173
KM|Comoros|-12.1667|44.25
KN|Saint Kitts and Nevis|17.3333|-62.75
KP|Korea, Democratic People's Republic of|40|127
KR|Korea, Republic of|37|127.5
KW|Kuwait|29.3375|47.6581
KY|Cayman Islands|19.5|-80.5
KZ|Kazakhstan|48|68
LA|Lao People's Democratic Republic|18|105
LB|Lebanon|33.8333|35.8333
LC|Saint Lucia|13.8833|-61.1333
LI|Liechtenstein|47.1667|9.5333
LK|Sri Lanka|7|81
LR|Liberia|6.5|-9.5
LS|Lesotho|-29.5|28.5
LT|Lithuania|56|24
LU|Luxembourg|49.75|6.1667
LV|Latvia|57|25
LY|Libyan Arab Jamahiriya|25|17
MA|Morocco|32|-5
MC|Monaco|43.7333|7.4
MD|Moldova, Republic of|47|29
ME|Montenegro|42|19
MG|Madagascar|-20|47
MH|Marshall Islands|9|168
MK|Macedonia|41.8333|22
ML|Mali|17|-4
MM|Myanmar|22|98
MN|Mongolia|46|105
MO|Macao|22.1667|113.55
MP|Northern Mariana Islands|15.2|145.75
MQ|Martinique|14.6667|-61
MR|Mauritania|20|-12
MS|Montserrat|16.75|-62.2
MT|Malta|35.8333|14.5833
MU|Mauritius|-20.2833|57.55
MV|Maldives|3.25|73
MW|Malawi|-13.5|34
MX|Mexico|23|-102
MY|Malaysia|2.5|112.5
MZ|Mozambique|-18.25|35
NA|Namibia|-22|17
NC|New Caledonia|-21.5|165.5
NE|Niger|16|8
NF|Norfolk Island|-29.0333|167.95
NG|Nigeria|10|8
NI|Nicaragua|13|-85
NL|Netherlands|52.5|5.75
NO|Norway|62|10
NP|Nepal|28|84
NR|Nauru|-0.5333|166.9167
NU|Niue|-19.0333|-169.8667
NZ|New Zealand|-41|174
OM|Oman|21|57
PA|Panama|9|-80
PE|Peru|-10|-76
PF|French Polynesia|-15|-140
PG|Papua New Guinea|-6|147
PH|Philippines|13|122
PK|Pakistan|30|70
PL|Poland|52|20
PM|Saint Pierre and Miquelon|46.8333|-56.3333
PR|Puerto Rico|18.25|-66.5
PS|Palestinian Territory|32|35.25
PT|Portugal|39.5|-8
PW|Palau|7.5|134.5
PY|Paraguay|-23|-58
QA|Qatar|25.5|51.25
RE|Reunion|-21.1|55.6
RO|Romania|46|25
RS|Serbia|44|21
RU|Russian Federation|60|100
RW|Rwanda|-2|30
SA|Saudi Arabia|25|45
SB|Solomon Islands|-8|159
SC|Seychelles|-4.5833|55.6667
SD|Sudan|15|30
SE|Sweden|62|15
SG|Singapore|1.3667|103.8
SH|Saint Helena|-15.9333|-5.7
SI|Slovenia|46|15
SJ|Svalbard and Jan Mayen|78|20
SK|Slovakia|48.6667|19.5
SL|Sierra Leone|8.5|-11.5
SM|San Marino|43.7667|12.4167
SN|Senegal|14|-14
SO|Somalia|10|49
SR|Suriname|4|-56
ST|Sao Tome and Principe|1|7
SV|El Salvador|13.8333|-88.9167
SY|Syrian Arab Republic|35|38
SZ|Swaziland|-26.5|31.5
TC|Turks and Caicos Islands|21.75|-71.5833
TD|Chad|15|19
TF|French Southern Territories|-43|67
TG|Togo|8|1.1667
TH|Thailand|15|100
TJ|Tajikistan|39|71
TK|Tokelau|-9|-172
TM|Turkmenistan|40|60
TN|Tunisia|34|9
TO|Tonga|-20|-175
TR|Turkey|39|35
TT|Trinidad and Tobago|11|-61
TV|Tuvalu|-8|178
TW|Taiwan|23.5|121
TZ|Tanzania, United Republic of|-6|35
UA|Ukraine|49|32
UG|Uganda|1|32
UM|United States Minor Outlying Islands|19.2833|166.6
US|United States|38|-97
UY|Uruguay|-33|-56
UZ|Uzbekistan|41|64
VA|Holy See (Vatican City State)|41.9|12.45
VC|Saint Vincent and the Grenadines|13.25|-61.2
VE|Venezuela|8|-66
VG|Virgin Islands, British|18.5|-64.5
VI|Virgin Islands, U.S.|18.3333|-64.8333
VN|Vietnam|16|106
VU|Vanuatu|-16|167
WF|Wallis and Futuna|-13.3|-176.2
WS|Samoa|-13.5833|-172.3333
YE|Yemen|15|48
YT|Mayotte|-12.8333|45.1667
ZA|South Africa|-29|24
ZM|Zambia|-15|30
ZW|Zimbabwe|-20|30
"""


def make_countries():
    rows = [line.split('|') for line in COUNTRIES.splitlines()]
    assert len(rows) == 240 and len({r[1] for r in rows}) == 240, len(rows)
    assert ['AD', 'Andorra', '42.5', '1.5'] in rows
    assert sum(1 for r in rows if float(r[2]) == 0.0) == 1
    out = ['"ISO 3166 Country Code","Country","Latitude","Longitude"']
    for code, name, lat, lon in rows:
        out.append(f'"{code}","{name}",{lat},{lon}')
    write_bytes('lat_lon_countries.csv', ('\n'.join(out) + '\n').encode('utf-8'))


# --------------------------------------------------------------- cities

# World capitals (lon, lat), approximate. Synthetic apart from the
# Washington point, which District of Columbia must contain.
CAPITALS = """\
Abu Dhabi|54.37|24.47
Abuja|7.49|9.06
Accra|-0.19|5.56
Addis Ababa|38.75|9.03
Algiers|3.06|36.75
Amman|35.93|31.95
Amsterdam|4.90|52.37
Andorra la Vella|1.52|42.51
Ankara|32.86|39.93
Antananarivo|47.52|-18.91
Apia|-171.76|-13.83
Ashgabat|58.38|37.95
Asmara|38.93|15.32
Astana|71.43|51.13
Asunción|-57.58|-25.26
Athens|23.73|37.98
Baghdad|44.36|33.31
Baku|49.87|40.41
Bamako|-8.00|12.64
Bandar Seri Begawan|114.94|4.89
Bangkok|100.50|13.75
Bangui|18.56|4.39
Banjul|-16.58|13.45
Basseterre|-62.72|17.30
Beijing|116.41|39.90
Beirut|35.50|33.89
Belgrade|20.46|44.82
Belmopan|-88.77|17.25
Berlin|13.40|52.52
Bern|7.45|46.95
Bishkek|74.59|42.87
Bissau|-15.60|11.86
Bogotá|-74.07|4.71
Brasília|-47.88|-15.79
Bratislava|17.11|48.15
Brazzaville|15.28|-4.26
Bridgetown|-59.62|13.10
Brussels|4.35|50.85
Bucharest|26.10|44.43
Budapest|19.04|47.50
Buenos Aires|-58.38|-34.60
Bujumbura|29.36|-3.38
Cairo|31.24|30.04
Canberra|149.13|-35.28
Caracas|-66.90|10.48
Castries|-60.99|14.01
Chisinau|28.86|47.01
Colombo|79.86|6.93
Conakry|-13.68|9.64
Copenhagen|12.57|55.68
Dakar|-17.45|14.69
Damascus|36.29|33.51
Dhaka|90.41|23.81
Dili|125.57|-8.56
Djibouti|43.15|11.59
Dodoma|35.74|-6.16
Doha|51.53|25.29
Dublin|-6.26|53.35
Dushanbe|68.79|38.56
Freetown|-13.23|8.48
Funafuti|179.19|-8.52
Gaborone|25.91|-24.63
Georgetown|-58.16|6.80
Gitega|29.93|-3.43
Guatemala City|-90.51|14.63
Hanoi|105.83|21.03
Harare|31.05|-17.83
Havana|-82.37|23.11
Helsinki|24.94|60.17
Honiara|159.97|-9.43
Islamabad|73.05|33.68
Jakarta|106.85|-6.21
Jerusalem|35.22|31.77
Juba|31.58|4.86
Kabul|69.21|34.56
Kampala|32.58|0.35
Kathmandu|85.32|27.72
Khartoum|32.56|15.50
Kigali|30.06|-1.94
Kingston|-76.79|18.02
Kingstown|-61.23|13.16
Kinshasa|15.27|-4.44
Kuala Lumpur|101.69|3.14
Kuwait City|47.98|29.38
Kyiv|30.52|50.45
La Paz|-68.15|-16.49
Libreville|9.45|0.42
Lilongwe|33.79|-13.96
Lima|-77.04|-12.05
Lisbon|-9.14|38.72
Ljubljana|14.51|46.06
Lomé|1.23|6.13
London|-0.13|51.51
Luanda|13.23|-8.84
Lusaka|28.32|-15.39
Luxembourg|6.13|49.61
Madrid|-3.70|40.42
Majuro|171.38|7.09
Malabo|8.78|3.75
Malé|73.51|4.18
Managua|-86.25|12.11
Manama|50.59|26.23
Manila|120.98|14.60
Maputo|32.57|-25.97
Maseru|27.48|-29.31
Mbabane|31.14|-26.31
Melekeok|134.62|7.50
Mexico City|-99.13|19.43
Minsk|27.56|53.90
Mogadishu|45.32|2.05
Monaco|7.42|43.74
Monrovia|-10.80|6.30
Montevideo|-56.16|-34.90
Moroni|43.26|-11.70
Moscow|37.62|55.76
Muscat|58.41|23.59
Nairobi|36.82|-1.29
Nassau|-77.34|25.05
Naypyidaw|96.13|19.76
N'Djamena|15.04|12.13
New Delhi|77.21|28.61
Niamey|2.11|13.51
Nicosia|33.38|35.19
Nouakchott|-15.98|18.08
Nuku'alofa|-175.20|-21.14
Oslo|10.75|59.91
Ottawa|-75.70|45.42
Ouagadougou|-1.53|12.37
Palikir|158.16|6.92
Panama City|-79.52|8.98
Paramaribo|-55.20|5.85
Paris|2.35|48.86
Phnom Penh|104.92|11.56
Podgorica|19.26|42.44
Port Louis|57.50|-20.16
Port Moresby|147.18|-9.44
Port of Spain|-61.51|10.66
Port Vila|168.32|-17.73
Port-au-Prince|-72.34|18.59
Porto-Novo|2.63|6.50
Prague|14.44|50.08
Praia|-23.51|14.93
Pretoria|28.19|-25.75
Pristina|21.17|42.66
Pyongyang|125.76|39.04
Quito|-78.47|-0.18
Rabat|-6.84|34.02
Reykjavík|-21.94|64.15
Riga|24.11|56.95
Riyadh|46.68|24.71
Rome|12.50|41.90
Roseau|-61.39|15.30
Saint George's|-61.75|12.06
Saint John's|-61.85|17.12
San José|-84.09|9.93
San Marino|12.45|43.94
San Salvador|-89.19|13.69
Sana'a|44.19|15.37
Santiago|-70.67|-33.45
Santo Domingo|-69.93|18.49
São Tomé|6.73|0.34
Sarajevo|18.41|43.86
Seoul|126.98|37.57
Singapore|103.82|1.35
Skopje|21.43|42.00
Sofia|23.32|42.70
Sri Jayawardenepura Kotte|79.92|6.89
Stockholm|18.07|59.33
Sucre|-65.26|-19.03
Suva|178.44|-18.14
Taipei|121.57|25.03
Tallinn|24.75|59.44
Tarawa|172.98|1.45
Tashkent|69.24|41.30
Tbilisi|44.79|41.72
Tegucigalpa|-87.21|14.07
Tehran|51.39|35.69
Thimphu|89.64|27.47
Tirana|19.82|41.33
Tokyo|139.69|35.69
Tripoli|13.19|32.89
Tunis|10.18|36.81
Ulaanbaatar|106.91|47.89
Vaduz|9.52|47.14
Valletta|14.51|35.90
Vatican City|12.45|41.90
Victoria|55.45|-4.62
Vienna|16.37|48.21
Vientiane|102.63|17.98
Vilnius|25.28|54.69
Warsaw|21.01|52.23
Washington, D.C.|-77.0369|38.9072
Wellington|174.78|-41.29
Windhoek|17.08|-22.56
Yamoussoukro|-5.28|6.83
Yaoundé|11.50|3.85
Yerevan|44.51|40.18
Zagreb|15.98|45.81
Laayoune|-13.20|27.15
Hargeisa|44.06|9.56
Stanley|-57.85|-51.69
Saint Helier|-2.11|49.19
"""


def city_rows():
    rows = []
    for line in CAPITALS.splitlines():
        name, lon, lat = line.split('|')
        rows.append((name, float(lon), float(lat)))
    return rows


def make_cities(rows):
    assert len(rows) == 202 and len({r[0] for r in rows}) == 202, len(rows)
    wkb = [struct.pack('<BIdd', 1, 1, x, y) for _, x, y in rows]
    xs, ys = [r[1] for r in rows], [r[2] for r in rows]
    geo = {'version': '1.0.0', 'primary_column': 'geometry',
           'columns': {'geometry': {'encoding': 'WKB', 'geometry_types': ['Point'],
                                    'bbox': [min(xs), min(ys), max(xs), max(ys)]}}}
    schema = pa.schema([('name', pa.string()), ('geometry', pa.binary())],
                       metadata={'geo': json.dumps(geo, separators=(',', ':'))})
    table = pa.table({'name': [r[0] for r in rows], 'geometry': wkb}, schema=schema)
    with pa.OSFile(os.path.join(OUT, 'cities.arrow'), 'wb') as sink:
        with pa.ipc.new_file(sink, schema) as w:
            w.write_table(table)


# ------------------------------------------------------------ spatialite

# parts per comune: 'ring' = one shell, 'hole' = shell + concentric hole,
# 'pair' = two equal shells mirrored about the centre. Every layout is
# centrally symmetric or regular, so the area-weighted centroid is the
# golden (cx, cy) itself, 0.05 m away from any rounding boundary.
COMUNI_LAYOUT = {'Arezzo': 'hole', 'Civitella in Val di Chiana': 'hole',
                 'Camo': 'pair', 'Capolona': 'pair', 'Monte San Savino': 'pair'}


def regular_ring(cx, cy, r, n):
    m = n - 1
    pts = [(cx + r * math.cos(2 * math.pi * k / m), cy + r * math.sin(2 * math.pi * k / m))
           for k in range(m)]
    return pts + [pts[0]]


def comune_polygons(name, cx, cy, npts, fid):
    r = 2500.0 + 250.0 * fid
    layout = COMUNI_LAYOUT.get(name, 'ring')
    if layout == 'ring':
        return [[regular_ring(cx, cy, r, npts)]]
    if layout == 'hole':
        n_hole = npts // 4
        hole = regular_ring(cx, cy, 0.3 * r, n_hole)[::-1]
        return [[regular_ring(cx, cy, r, npts - n_hole), hole]]
    assert npts % 2 == 0, name
    return [[regular_ring(cx + s * 1.2 * r, cy, r, npts // 2)] for s in (-1, 1)]


def spatialite_blob(polys, srid):
    xs = [p[0] for poly in polys for ring in poly for p in ring]
    ys = [p[1] for poly in polys for ring in poly for p in ring]
    b = struct.pack('<BBi4dB', 0x00, 0x01, srid, min(xs), min(ys), max(xs), max(ys), 0x7C)
    b += struct.pack('<ii', 6, len(polys))
    for poly in polys:
        b += struct.pack('<Bii', 0x69, 3, len(poly))
        for ring in poly:
            b += struct.pack('<i', len(ring))
            b += b''.join(struct.pack('<2d', x, y) for x, y in ring)
    return b + b'\xfe'


def make_spatialite():
    golden = sorted(read_golden('comuni.csv'), key=lambda g: int(g['fid']))
    assert [int(g['fid']) for g in golden] == list(range(1, 14))
    path = os.path.join(OUT, 'test_spatialite.sqlite')
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    con.execute('PRAGMA page_size = 4096')
    con.execute('CREATE TABLE geometry_columns (f_table_name TEXT NOT NULL, '
                'f_geometry_column TEXT NOT NULL, geometry_type INTEGER NOT NULL, '
                'coord_dimension INTEGER NOT NULL, srid INTEGER NOT NULL, '
                'spatial_index_enabled INTEGER NOT NULL)')
    con.execute("INSERT INTO geometry_columns VALUES ('comuni', 'geometry', 6, 2, 32632, 0)")
    con.execute('CREATE TABLE comuni (code INTEGER, name TEXT, Geometry MULTIPOLYGON)')
    for g in golden:
        polys = comune_polygons(g['name'], float(g['cx']), float(g['cy']),
                                int(g['npoints']), int(g['fid']))
        assert sum(len(r) for p in polys for r in p) == int(g['npoints'])
        blob = spatialite_blob(polys, 32632)
        if g['name'] == 'Anghiari':  # past a table leaf's max local payload
            assert len(blob) > 4096 - 35, len(blob)
        con.execute('INSERT INTO comuni (rowid, code, name, Geometry) VALUES (?, ?, ?, ?)',
                    (int(g['fid']), int(g['code']), g['name'], blob))
    con.commit()
    root = con.execute("SELECT rootpage FROM sqlite_master WHERE name = 'comuni'").fetchone()[0]
    con.close()
    with open(path, 'rb') as f:
        data = f.read()
    page = data[(root - 1) * 4096:root * 4096]
    # the table root must be an interior page (split planning has children)
    assert page[0] == 0x05, page[0]
    children = struct.unpack('>H', page[3:5])[0] + 1
    return children


def main():
    os.makedirs(OUT, exist_ok=True)
    cities = city_rows()
    make_stations()
    make_us_states(cities)
    make_lakes()
    make_countries()
    make_cities(cities)
    children = make_spatialite()
    print(f'wrote fixtures to {os.path.relpath(OUT, ROOT)} '
          f'(comuni root page has {children} children)')


if __name__ == '__main__':
    main()
