"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. Each generator also returns the ground truth the
benchmark checks the program against; that truth is derived from the
generator's own rows, never from anything the program computes.

price_inputs   8 project price-list workbooks (.xls and .xlsx) plus the
               CRM extract (CSV) for the price_etl and dashboard workloads
analytics_inputs  a seeded row sample of the sf0.1 lineitem / orders /
               documents tables (CSV, typed and written to parquet by the
               benchmark harness at set-up) for the analytics workload
"""

import csv
import datetime
import gzip
import io
import json
import os
import random
import struct
import zipfile
from xml.sax.saxutils import escape

# ---------------------------------------------------------------- layout

# (project, workbook format, sheet layout). Matera and Napoles are tower
# projects: the program prefixes their numeric unit ids with the tower
# letter (A/B) taken from the typology.
PROJECTS = [
    ("Matera", "xls", 0),
    ("Alameda", "xlsx", 1),
    ("Barranco", "xls", 2),
    ("Cusco Norte", "xlsx", 3),
    ("Miraflores", "xls", 1),
    ("Napoles", "xlsx", 0),
    ("Surco Park", "xls", 3),
    ("Lince Central", "xlsx", 2),
]
TOWER_PROJECTS = {"matera", "napoles"}
NO_CRM_PROJECT = "Lince Central"   # in the workbooks only
CRM_ONLY_PROJECT = "Urbanzen"      # in the CRM extract only

ESTADOS = ["Disponible", "Vendido", "Separado", "Bloqueado"]
# Each typology carries a word found in no other column, so a dashboard
# search for it matches exactly the units of that typology.
TIPOLOGIAS = ["A-FLAT", "B-DUPLEX", "C-STUDIO", "D-PENTHOUSE"]

# Header rows per layout: preamble rows, then the header. Layout 2 carries
# a duplicated canonical price header (the program keeps the first
# non-null of the pair).
LAYOUTS = {
    0: ([["LISTA DE PRECIOS", None, None], [None, None, None]],
        ["Número de inmueble", "Precio de lista", "Estado de inmueble",
         "Tipología", "Área total"]),
    1: ([],
        ["unidad", "precio", "estado", "Tipologia", "Area total", "Piso"]),
    2: ([["Reporte comercial", None], ["Fecha de corte", "2024-06-30"],
         [None, None]],
        ["codigo", "Precio de lista", "Precio de lista", "estado comercial",
         "tipologia", "Area total"]),
    3: ([["Precios vigentes"]],
        ["N° inmueble", "precio lista", "Estado de inmueble", "Tipología",
         "Area total"]),
}

DEFAULT_UNITS = 20_000


def _fmt_es(cents):
    ent, dec = divmod(cents, 100)
    return f"{ent:,}".replace(",", ".") + f",{dec:02d}"


def _fmt_en(cents):
    ent, dec = divmod(cents, 100)
    return f"{ent:,}.{dec:02d}"


def _price_cell(rng, cents):
    """A list-price cell in one of the spellings real sheets carry."""
    if cents is None:
        return "N/A"
    k = rng.random()
    if k < 0.35:
        return _fmt_es(cents)
    if k < 0.6:
        return _fmt_en(cents)
    if k < 0.85:
        return cents / 100          # a numeric cell
    return f"{cents / 100}"         # plain decimal text


def _project_sizes(rng, total):
    weights = [rng.uniform(0.8, 1.2) for _ in PROJECTS]
    s = sum(weights)
    sizes = [int(total * w / s) for w in weights]
    sizes[0] += total - sum(sizes)
    return sizes


# ------------------------------------------------------------ price_etl

def price_inputs(seed, out_dir, total_units=DEFAULT_UNITS):
    """Write the workbooks and the CRM extract; return the ground truth."""
    rng = random.Random(f"price-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    sizes = _project_sizes(rng, total_units)
    workbooks, crm, units = [], [], []
    for (proyecto, fmt, layout), n in zip(PROJECTS, sizes):
        rows = []
        base = rng.randrange(100, 900) * 10
        for i in range(n):
            num = base + i
            tipo = rng.choice(TIPOLOGIAS)
            estado = rng.choice(ESTADOS)
            cents = None if rng.random() < 0.03 else \
                rng.randrange(15_000, 250_000) * 1000 + rng.choice([0, 50, 990])
            area_cents = rng.randrange(3_500, 25_000)
            # the unit id as the program keys it (canonical, tower-prefixed)
            if layout == 2:
                raw_unit = f"DPTO-{num}"
                key = raw_unit
            else:
                raw_unit = num
                key = str(num)
                if proyecto.lower() in TOWER_PROJECTS and tipo[0] in "AB":
                    key = tipo[0] + key
            units.append({"proyecto": proyecto, "key": key, "tipo": tipo,
                          "estado": estado, "cents": cents})
            rows.append((raw_unit, cents, estado, tipo, area_cents))
        path = os.path.join(out_dir, f"{len(workbooks):02d}_{proyecto.replace(' ', '_')}.{fmt}")
        grid = _sheet_grid(rng, layout, rows, fmt)
        if fmt == "xls":
            _write_xls(path, proyecto, grid)
        else:
            _write_xlsx(path, proyecto, grid)
        workbooks.append({"path": os.path.basename(path), "proyecto": proyecto,
                          "rows": n, "format": fmt})

    truth = _crm_and_truth(rng, units, crm)
    crm_path = os.path.join(out_dir, "crm_extract.csv")
    with open(crm_path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["nombre_proyecto", "nombre", "precio_lista",
                    "estado_comercial", "fecha_actualizacion", "_row"])
        for i, r in enumerate(crm):
            w.writerow(list(r) + [i])
    truth["workbooks"] = workbooks
    truth["crm"] = {"path": "crm_extract.csv", "rows": len(crm)}
    truth["sheet_rows"] = sum(sizes)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True, indent=1)
    return truth


def _sheet_grid(rng, layout, rows, fmt):
    preamble, header = LAYOUTS[layout]
    grid = [list(r) for r in preamble] + [list(header)]
    for raw_unit, cents, estado, tipo, area_cents in rows:
        unit = raw_unit
        if isinstance(raw_unit, int) and fmt == "xlsx" and rng.random() < 0.3:
            unit = f"{raw_unit}.0"            # canonicalised by the program
        elif isinstance(raw_unit, int) and fmt == "xlsx":
            unit = str(raw_unit)
        price = _price_cell(rng, cents)
        area = f"{area_cents // 100},{area_cents % 100:02d}"
        if layout == 0:
            grid.append([unit, price, estado, tipo, area])
        elif layout == 1:
            grid.append([unit, price, estado, tipo, area, rng.randrange(1, 30)])
        elif layout == 2:
            # duplicated price header: first column empty on ~30% of rows
            if rng.random() < 0.3:
                grid.append([unit, None, price, estado, tipo, area])
            else:
                grid.append([unit, price, "0,01", estado, tipo, area])
        else:
            grid.append([unit, price, estado, tipo, area])
    return grid


def _crm_and_truth(rng, units, crm):
    """Build the CRM extract rows and the per-project expectations."""
    base_day = 19700  # days since epoch, mid 2023
    resumen = {}
    cells = {}
    for u in units:
        p = u["proyecto"]
        r = resumen.setdefault(p, {"Registros": 0, "Con_Match": 0,
                                   "Sin_Match": 0, "Cambios": 0,
                                   "Cambios_Precio": 0, "Cambios_Estado": 0,
                                   "Sin_Cambio": 0})
        r["Registros"] += 1
        new_cents, new_estado = u["cents"], u["estado"]
        matched = p != NO_CRM_PROJECT and rng.random() < 0.75
        if matched:
            k = 1 if rng.random() < 0.7 else (2 if rng.random() < 0.67 else 3)
            days = rng.sample(range(0, 400), k)
            latest = max(days)
            for d in days:
                if d == latest:
                    roll = rng.random()
                    if roll < 0.6:
                        price = u["cents"]
                    elif roll < 0.9 or u["cents"] is None:
                        # a real price change, far outside the program's
                        # 1e-5 relative tolerance
                        price = rng.randrange(15_000, 250_000) * 1000 + 500
                        if u["cents"] is not None:
                            price = u["cents"] + rng.choice([-1, 1]) * \
                                rng.randrange(5, 20) * u["cents"] // 100
                    else:
                        price = None
                    roll = rng.random()
                    if roll < 0.7:
                        est = u["estado"]
                    elif roll < 0.95:
                        est = rng.choice([e for e in ESTADOS if e != u["estado"]])
                    else:
                        est = None
                    if price is not None:
                        new_cents = price
                    if est is not None:
                        new_estado = est
                else:
                    price = rng.randrange(15_000, 250_000) * 1000 + 700
                    est = rng.choice(ESTADOS)
                crm.append(_crm_row(rng, p, u["key"], price, est, base_day + d))
            if rng.random() < 0.05:
                # an undated duplicate sorts after every dated one
                crm.append(_crm_row(rng, p, u["key"], 123_456_00, "Bloqueado",
                                    None))
            price_changed = new_cents != u["cents"]
            estado_changed = new_estado != u["estado"]
            r["Con_Match"] += 1
            r["Cambios_Precio"] += price_changed
            r["Cambios_Estado"] += estado_changed
            r["Cambios"] += price_changed or estado_changed
            r["Sin_Cambio"] += not (price_changed or estado_changed)
        else:
            r["Sin_Match"] += 1
        key = (p, new_estado, u["tipo"], new_cents is not None)
        cells[key] = cells.get(key, 0) + 1
    # CRM rows whose unit is in no workbook, and a CRM-only project
    for i in range(len(units) // 50):
        crm.append(_crm_row(rng, rng.choice(PROJECTS)[0], f"X{900000 + i}",
                            rng.randrange(15_000, 250_000) * 1000,
                            rng.choice(ESTADOS), base_day + rng.randrange(400)))
    for i in range(200):
        crm.append(_crm_row(rng, CRM_ONLY_PROJECT, str(100 + i), 99_900_00,
                            "Disponible", base_day + i))
    rng.shuffle(crm)
    return {"resumen": resumen,
            "cells": [[p, e, t, priced, n]
                      for (p, e, t, priced), n in sorted(cells.items())],
            "units": len(units)}


def _crm_row(rng, proyecto, key, cents, estado, day):
    # keys arrive with stray case and padding; the program normalises both
    nombre = key.lower() if rng.random() < 0.3 else key
    if rng.random() < 0.2:
        nombre = f" {nombre} "
    name = f" {proyecto}" if rng.random() < 0.1 else proyecto
    price = "" if cents is None else f"{cents / 100}"
    fecha = "" if day is None else _iso_day(day) + f" {rng.randrange(24):02d}:00:00"
    return (name, nombre, price, "" if estado is None else estado, fecha)


def _iso_day(day):
    return (datetime.date(1970, 1, 1) + datetime.timedelta(days=day)).isoformat()


# ------------------------------------------------------------ workbooks

def _write_xlsx(path, sheet, grid):
    def col(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    out = io.StringIO()
    out.write('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
              '<worksheet xmlns="http://schemas.openxmlformats.org/'
              'spreadsheetml/2006/main"><sheetData>')
    for r, row in enumerate(grid, start=1):
        out.write(f'<row r="{r}">')
        for c, v in enumerate(row):
            if v is None:
                continue
            ref = f"{col(c)}{r}"
            if isinstance(v, (int, float)):
                out.write(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                out.write(f'<c r="{ref}" t="inlineStr"><is><t>{escape(v)}</t></is></c>')
        out.write("</row>")
    out.write("</sheetData></worksheet>")
    parts = [
        ("[Content_Types].xml",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
         '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
         '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
         '<Default Extension="xml" ContentType="application/xml"/>'
         '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
         '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
         '</Types>'),
        ("_rels/.rels",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
         '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
         '</Relationships>'),
        ("xl/workbook.xml",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
         '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
         'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
         f'<sheets><sheet name="{escape(sheet)}" sheetId="1" r:id="rId1"/></sheets></workbook>'),
        ("xl/_rels/workbook.xml.rels",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
         '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
         '</Relationships>'),
        ("xl/worksheets/sheet1.xml", out.getvalue()),
    ]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"))


def _biff(rec_id, data):
    return struct.pack("<HH", rec_id, len(data)) + data


def _write_xls(path, sheet, grid):
    """A BIFF8 workbook with one sheet in a version-3 compound file:
    LABEL cells for text, NUMBER cells for numbers."""
    cells = bytearray()
    for r, row in enumerate(grid):
        for c, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, (int, float)):
                cells += _biff(0x0203, struct.pack("<HHHd", r, c, 0, float(v)))
            else:
                b = v.encode("latin-1")
                cells += _biff(0x0204, struct.pack("<HHHHB", r, c, 0, len(b), 0) + b)
    bof_sheet = _biff(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
    eof = _biff(0x000A, b"")
    name = sheet.encode("latin-1")

    def globals_(pos):
        return (_biff(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
                + _biff(0x0085, struct.pack("<IBBBB", pos, 0, 0, len(name), 0) + name)
                + eof)
    g = globals_(0)
    stream = globals_(len(g)) + bof_sheet + bytes(cells) + eof
    with open(path, "wb") as f:
        f.write(_cfb(stream))


def _cfb(stream):
    sec = 512
    free, end, fatsect, nostream = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD, 0xFFFFFFFF
    stream = stream + b"\0" * (-len(stream) % sec)
    if len(stream) < 4096:                   # keep it out of the mini-stream
        stream += b"\0" * (4096 - len(stream))
    n = len(stream) // sec
    nfat = 1
    while n + 1 + nfat > nfat * (sec // 4):
        nfat += 1
    assert nfat <= 109, "workbook too large for a header-only DIFAT"
    dir_sid = n
    fat = [i + 1 for i in range(n - 1)] + [end, end] + [fatsect] * nfat
    fat += [free] * (nfat * (sec // 4) - len(fat))

    def entry(name, typ, start, size, child=nostream):
        nm = (name + "\0").encode("utf-16-le")
        return (nm + b"\0" * (64 - len(nm))
                + struct.pack("<HBBIII", len(nm), typ, 1, nostream, nostream,
                              child)
                + b"\0" * 36 + struct.pack("<IQ", start, size))
    unused = (b"\0" * 68 + struct.pack("<III", nostream, nostream, nostream)
              + b"\0" * 48)
    directory = (entry("Root Entry", 5, end, 0, child=1)
                 + entry("Workbook", 2, 0, len(stream)) + unused * 2)
    difat = [n + 1 + i for i in range(nfat)] + [free] * (109 - nfat)
    header = (bytes.fromhex("D0CF11E0A1B11AE1") + b"\0" * 16
              + struct.pack("<HHHHH", 0x003E, 3, 0xFFFE, 9, 6) + b"\0" * 6
              + struct.pack("<IIIIIIIII", 0, nfat, dir_sid, 0, 4096, end, 0,
                            end, 0)
              + struct.pack("<109I", *difat))
    return (header + stream + directory
            + struct.pack(f"<{len(fat)}I", *fat))


# ------------------------------------------------------------ analytics

# The pool of sf0.1 rows the analytics sample is drawn from
# (make_sample.py wrote it; NOTES.md compares its shape with sf0.1's).
POOL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "sf0.1-sample")
ANALYTICS_COLUMNS = {
    "orders": ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
}


def _read_pool(table):
    with gzip.open(os.path.join(POOL_DIR, f"{table}.csv.gz"), "rt",
                   encoding="utf-8", newline="") as f:
        return list(csv.reader(f))


def analytics_inputs(seed, out_dir):
    """Write lineitem/orders/documents as CSV; return per-table row counts.

    A seeded row sample of sf0.1, drawn from the committed pool: half of
    the pool's customers with every one of their orders and those orders'
    lines (so each sampled customer keeps its trade-graph degree), and a
    uniform half of its documents (which keeps the near-duplicate pair
    density)."""
    rng = random.Random(f"analytics-{seed}")
    pool = {t: _read_pool(t) for t in ANALYTICS_COLUMNS}
    custs = sorted({int(r[1]) for r in pool["orders"]})
    keep = set(rng.sample(custs, len(custs) // 2))
    orders = [r for r in pool["orders"] if int(r[1]) in keep]
    okeys = {r[0] for r in orders}
    docs = pool["documents"]
    tables = {
        "orders": orders,
        "lineitem": [r for r in pool["lineitem"] if r[0] in okeys],
        "documents": [docs[i] for i in
                      sorted(rng.sample(range(len(docs)), len(docs) // 2))],
    }
    os.makedirs(out_dir, exist_ok=True)
    for t, rows in tables.items():
        with open(os.path.join(out_dir, f"{t}.csv"), "w", newline="") as f:
            csv.writer(f, lineterminator="\n").writerows(rows)
    counts = {t: len(rows) for t, rows in tables.items()}
    with open(os.path.join(out_dir, "counts.json"), "w") as f:
        json.dump(counts, f, sort_keys=True)
    return counts


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=["price", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--units", type=int, default=DEFAULT_UNITS)
    a = ap.parse_args()
    if a.kind == "price":
        t = price_inputs(a.seed, a.out, a.units)
        print(json.dumps({"units": t["units"], "crm_rows": t["crm"]["rows"]}))
    else:
        print(json.dumps(analytics_inputs(a.seed, a.out)))
