#!/usr/bin/env python3
"""Seeded input generator for the ETL workloads.

    python3 perfbench/gen.py --kind excel|direct --seed N --out DIR

writes, under DIR (which it empties first):

  config/index.yaml            one catalog, reached through a file:// URL
  config/config_downloads.yaml single try, no retry delay
  config/config_general.yaml   environment name
  catalog.xlsx | data.json     the catalog (5-sheet XLSX or data.json)
  sources/*                    the source workbooks / CSV / TXT files
  truth.json                   what a correct run must report

The same seed and the same DIR give byte-identical files: every random
choice comes from one `random.Random(seed)`, the XLSX zip entries carry a
fixed timestamp and JSON is written with sorted keys.

Faults: about 5% of the distributions (at least one) carry exactly one
injected fault, the classes rotating with the seed; --every-fault puts
one distribution of each class in the catalog instead. --sparse leaves
a few empty cells in the clean distributions too (their time index stays
complete, so they are still expected OK); the workloads do not use it,
see NOTES.md.
Each fault class maps to one expected report status (FAULTS_EXCEL,
FAULTS_DIRECT); every other distribution must come out OK with exactly
the generated values.
"""
import argparse
import json
import os
import random
import shutil
import zipfile

CATALOG_ID = "bench"

# frequency: (ISO-8601 accrual period, label kind, months per period)
FREQUENCIES = [("R/P1M", "M", 1), ("R/P3M", "Q", 3), ("R/P1Y", "A", 12)]
FIRST_YEAR = {"M": 2000, "Q": 1960, "A": 1781}

# fault class -> expected distribution status
FAULTS_EXCEL = {
    "missing_cells": "ERROR",        # one series more than half empty
    "header_drift": "WARNING",       # header cell differs from field title
    "nonmonotonic_index": "ERROR",   # index steps back onto an earlier period
    "frequency_gap": "WARNING",      # one period missing from the index
    "duplicate_field_id": "ERROR",   # two fields declare the same serie id
    "bad_cell_coordinate": "ERROR",  # data-start cell is not a coordinate
    "trailing_footer": "WARNING",    # a source note below the table
}
FAULTS_DIRECT = {
    "missing_cells": "ERROR",
    "nonmonotonic_index": "ERROR",
    "frequency_gap": "WARNING",
    "trailing_footer": "ERROR",      # footer text lands in the date column
}

FIXED_ZIP_TIME = (1980, 1, 1, 0, 0, 0)
SHEETS_PER_BOOK = 6
N_SERIES = 12
N_PERIODS = 240


def period_label(kind, i):
    """(source label, ISO date) of period i for a frequency kind."""
    y0 = FIRST_YEAR[kind]
    if kind == "M":
        y, m = y0 + i // 12, i % 12 + 1
        return f"{y:04d}-{m:02d}", f"{y:04d}-{m:02d}-01"
    if kind == "Q":
        y, q = y0 + i // 4, i % 4 + 1
        return f"{y:04d}-Q{q}", f"{y:04d}-{(q - 1) * 3 + 1:02d}-01"
    y = y0 + i
    return f"{y:04d}", f"{y:04d}-01-01"


def col_letters(i):
    """1-based column index -> letters (1 -> A, 27 -> AA)."""
    s = ""
    while i > 0:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def fmt_value(v):
    return repr(v)


# ------------------------------------------------------------------ xlsx

def _xml_escape(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def _sheet_xml(rows):
    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<worksheet xmlns="http://schemas.openxmlformats.org/'
           'spreadsheetml/2006/main"><sheetData>']
    for r, row in enumerate(rows, start=1):
        cells = []
        for c, v in enumerate(row, start=1):
            if v is None:
                continue
            ref = f"{col_letters(c)}{r}"
            if isinstance(v, float):
                cells.append(f'<c r="{ref}"><v>{fmt_value(v)}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t>'
                             f"{_xml_escape(str(v))}</t></is></c>")
        if cells:
            out.append(f'<row r="{r}">{"".join(cells)}</row>')
    out.append("</sheetData></worksheet>")
    return "".join(out)


def write_xlsx(path, sheets):
    """sheets: [(name, rows)], rows a list of lists of str/float/None."""
    ns = "http://schemas.openxmlformats.org"
    parts = [
        ("[Content_Types].xml",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
         f'<Types xmlns="{ns}/package/2006/content-types">'
         '<Default Extension="rels" ContentType="application/'
         'vnd.openxmlformats-package.relationships+xml"/>'
         '<Default Extension="xml" ContentType="application/xml"/>'
         '<Override PartName="/xl/workbook.xml" ContentType="application/'
         'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
         + "".join(
             f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
             'ContentType="application/vnd.openxmlformats-officedocument.'
             'spreadsheetml.worksheet+xml"/>'
             for i in range(1, len(sheets) + 1))
         + "</Types>"),
        ("_rels/.rels",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
         f'<Relationships xmlns="{ns}/package/2006/relationships">'
         f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/'
         'relationships/officeDocument" Target="xl/workbook.xml"/>'
         "</Relationships>"),
        ("xl/workbook.xml",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
         f'<workbook xmlns="{ns}/spreadsheetml/2006/main" '
         f'xmlns:r="{ns}/officeDocument/2006/relationships"><sheets>'
         + "".join(f'<sheet name="{_xml_escape(n)}" sheetId="{i}" '
                   f'r:id="rId{i}"/>'
                   for i, (n, _) in enumerate(sheets, start=1))
         + "</sheets></workbook>"),
        ("xl/_rels/workbook.xml.rels",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
         f'<Relationships xmlns="{ns}/package/2006/relationships">'
         + "".join(f'<Relationship Id="rId{i}" Type="{ns}/officeDocument/'
                   '2006/relationships/worksheet" '
                   f'Target="worksheets/sheet{i}.xml"/>'
                   for i in range(1, len(sheets) + 1))
         + "</Relationships>"),
    ]
    parts += [(f"xl/worksheets/sheet{i}.xml", _sheet_xml(rows))
              for i, (_, rows) in enumerate(sheets, start=1)]
    with zipfile.ZipFile(path, "w") as z:
        for name, content in parts:
            info = zipfile.ZipInfo(name, date_time=FIXED_ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, content.encode("utf-8"))


# ------------------------------------------------------------- the model

class Dist:
    """One generated distribution: its data and its truth."""

    def __init__(self, rng, dist_id, dataset_id, freq, n_series, n_periods,
                 fault, sparse):
        self.id, self.dataset_id, self.fault = dist_id, dataset_id, fault
        self.iso, self.kind, _ = freq
        self.series = [f"serie_{j:02d}" for j in range(1, n_series + 1)]
        self.periods = [period_label(self.kind, i) for i in range(n_periods)]
        # values with two decimals; a clean table is complete, empty
        # cells only come with the missing_cells fault
        self.values = [[round(rng.uniform(-500.0, 5000.0), 2)
                        for _ in range(n_series)] for _ in self.periods]
        if sparse:
            # a few empty cells in every serie but the first: still a
            # clean table, its time index is complete
            for row in self.values:
                for j in range(1, n_series):
                    if rng.random() < 0.04:
                        row[j] = None
        self.file_name = f"{dist_id}.csv"

    def apply_fault(self, rng):
        f = self.fault
        if f == "missing_cells":
            # one serie loses about two thirds of its cells
            j = rng.randrange(1, len(self.series))
            for row in self.values:
                if rng.random() < 0.67:
                    row[j] = None
        elif f == "frequency_gap":
            k = rng.randrange(2, len(self.periods) - 2)
            del self.periods[k]
            del self.values[k]
        elif f == "nonmonotonic_index":
            k = rng.randrange(3, len(self.periods) - 1)
            self.periods[k] = self.periods[k - 2]

    def expected_rows(self):
        """(date, values) rows of the correct output CSV, time-ordered."""
        rows = [(iso, vals) for (_, iso), vals in zip(self.periods,
                                                       self.values)]
        return sorted(rows, key=lambda r: r[0])


def plan(rng, seed, n_dist, n_series, n_periods, faults, n_datasets,
         every_fault, sparse):
    """Distributions and their faults: about 5% of them (at least one),
    the classes taken in turn from a seed-chosen start, or, with
    `every_fault`, one distribution per class."""
    classes = sorted(faults)
    if every_fault:
        picked = classes
    else:
        n_faulty = max(1, round(n_dist * 0.05))
        picked = [classes[(seed + i) % len(classes)] for i in range(n_faulty)]
    if len(picked) > n_dist:
        raise ValueError(f"{len(picked)} faults need at least as many "
                         "distributions")
    faulty = rng.sample(range(n_dist), len(picked))
    fault_of = dict(zip(faulty, picked))
    per_ds = -(-n_dist // n_datasets)
    dists = []
    for i in range(n_dist):
        ds = str(i // per_ds + 1)
        dists.append(Dist(rng, f"{ds}.{i % per_ds + 1}", ds,
                          FREQUENCIES[rng.randrange(len(FREQUENCIES))],
                          n_series, n_periods, fault_of.get(i), sparse))
    return dists


def truth_entry(d, statuses, out_rel):
    status = statuses[d.fault] if d.fault else "OK"
    e = {"id": d.id, "dataset": d.dataset_id, "fault": d.fault,
         "status": status, "output": out_rel}
    if status != "ERROR":
        e["columns"] = ["indice_tiempo"] + d.series
        e["rows"] = [[iso] + vals for iso, vals in d.expected_rows()]
    return e


def out_rel(d):
    return (f"catalog/{CATALOG_ID}/dataset/{d.dataset_id}/distribution/"
            f"{d.id}/download/{d.file_name}")


# ----------------------------------------------------------------- excel

def gen_excel(rng, seed, out, n_dist, n_series, n_periods, sheets_per_book,
              every_fault, sparse):
    dists = plan(rng, seed, n_dist, n_series, n_periods, FAULTS_EXCEL,
                 max(1, n_dist // 10), every_fault, sparse)
    src = os.path.join(out, "sources")
    os.makedirs(src)
    dist_rows, field_rows = [], []
    for b in range(0, n_dist, sheets_per_book):
        book = f"libro_{b // sheets_per_book + 1:03d}.xlsx"
        book_path = os.path.join(src, book)
        sheets = []
        for d in dists[b:b + sheets_per_book]:
            d.apply_fault(rng)
            sheet = f"hoja_{d.id}"
            headers = list(d.series)
            if d.fault == "header_drift":
                j = rng.randrange(len(headers))
                headers[j] = headers[j] + "_rev"
            # a small title block above the table, as real sheets have
            rows = [[f"Cuadro {d.id}"], [None],
                    ["indice_tiempo"] + headers]
            for (label, _), vals in zip(d.periods, d.values):
                rows.append([label] + vals)
            if d.fault == "trailing_footer":
                rows += [[None], ["Fuente: elaboracion propia"]]
            sheets.append((sheet, rows))
            first = 4  # header on row 3, data from row 4
            dist_rows.append([d.dataset_id, d.id, f"dist {d.id}",
                              f"file://{book_path}", sheet, d.file_name])
            field_rows.append([d.id, None, "indice_tiempo", "time_index",
                               d.iso, "A3", f"A{first}"])
            for j, s in enumerate(d.series):
                c = col_letters(j + 2)
                start = f"{c}{first}"
                if d.fault == "bad_cell_coordinate" and j == 0:
                    start = f"{first}{c}"
                sid = s
                if d.fault == "duplicate_field_id" and j == 1:
                    sid = d.series[0]
                field_rows.append([d.id, sid, sid, None, None, f"{c}3",
                                   start])
        write_xlsx(book_path, sheets)

    datasets = sorted({d.dataset_id for d in dists}, key=int)
    catalog = os.path.join(out, "catalog.xlsx")
    write_xlsx(catalog, [
        ("catalog", [["catalog_identifier", "catalog_title"],
                     [CATALOG_ID, "Benchmark catalog"]]),
        ("dataset", [["dataset_identifier", "dataset_title",
                      "dataset_accrualPeriodicity"]]
         + [[ds, f"dataset {ds}", "R/P1M"] for ds in datasets]),
        ("distribution", [["distribution_dataset_identifier",
                           "distribution_identifier", "distribution_title",
                           "distribution_scrapingFileURL",
                           "distribution_scrapingFileSheet",
                           "distribution_fileName"]] + dist_rows),
        ("field", [["field_distribution_identifier", "field_id",
                    "field_title", "field_specialType",
                    "field_specialTypeDetail",
                    "field_scrapingIdentifierCell",
                    "field_scrapingDataStartCell"]] + field_rows),
        ("theme", [["theme_id", "theme_label"]]),
    ])
    return catalog, "xlsx", [truth_entry(d, FAULTS_EXCEL, out_rel(d))
                             for d in dists]


# ---------------------------------------------------------------- direct

def _csv_cell(v):
    return "" if v is None else fmt_value(v)


def gen_direct(rng, seed, out, n_dist, n_series, n_periods, every_fault,
               sparse):
    dists = plan(rng, seed, n_dist, n_series, n_periods, FAULTS_DIRECT,
                 max(1, n_dist // 10), every_fault, sparse)
    src = os.path.join(out, "sources")
    os.makedirs(src)
    by_ds = {}
    for i, d in enumerate(dists):
        d.apply_fault(rng)
        txt = i % 3 == 2  # one in three is a ';'-delimited TXT file
        time_title = "fecha" if txt else "indice_tiempo"
        sep = ";" if txt else ","
        path = os.path.join(src, f"serie_{d.id}.{'txt' if txt else 'csv'}")
        lines = [sep.join([time_title] + d.series)]
        for (_, iso), vals in zip(d.periods, d.values):
            lines.append(sep.join([iso] + [_csv_cell(v) for v in vals]))
        if d.fault == "trailing_footer":
            lines.append("Fuente: elaboracion propia" + sep * len(d.series))
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write("\n".join(lines) + "\n")
        fields = [{"title": time_title, "type": "date",
                   "specialType": "time_index", "specialTypeDetail": d.iso}]
        fields += [{"id": s, "title": s, "type": "number"} for s in d.series]
        dist = {"identifier": d.id, "title": f"dist {d.id}",
                "issued": "2020-01-01", "fileName": d.file_name,
                "field": fields}
        if txt:
            dist["scrapingFileURL"] = f"file://{path}"
        else:
            dist["downloadURL"] = f"file://{path}"
        by_ds.setdefault(d.dataset_id, []).append(dist)
    catalog = {
        "identifier": CATALOG_ID, "title": "Benchmark catalog",
        "description": "generated", "publisher": {"name": "bench"},
        "superThemeTaxonomy": "http://example.org/taxonomy",
        "dataset": [{"identifier": ds, "title": f"dataset {ds}",
                     "description": "generated",
                     "publisher": {"name": "bench"},
                     "superTheme": ["ECON"], "accrualPeriodicity": "R/P1M",
                     "issued": "2020-01-01", "distribution": ds_dists}
                    for ds, ds_dists in by_ds.items()],
    }
    path = os.path.join(out, "data.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(catalog, f, sort_keys=True, separators=(",", ":"))
    return path, "json", [truth_entry(d, FAULTS_DIRECT, out_rel(d))
                          for d in dists]


# ------------------------------------------------------------------ main

def generate(kind, seed, out, n_dist, every_fault=False, sparse=False):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    out = os.path.abspath(out)
    rng = random.Random(f"{kind}:{seed}")
    if kind == "excel":
        catalog, fmt, truth = gen_excel(rng, seed, out, n_dist, N_SERIES,
                                        N_PERIODS, SHEETS_PER_BOOK,
                                        every_fault, sparse)
    else:
        catalog, fmt, truth = gen_direct(rng, seed, out, n_dist, N_SERIES,
                                         N_PERIODS, every_fault, sparse)
    cfg = os.path.join(out, "config")
    os.makedirs(cfg)
    with open(os.path.join(cfg, "index.yaml"), "w") as f:
        f.write(f"{CATALOG_ID}:\n  url: file://{catalog}\n"
                f"  formato: {fmt}\n")
    with open(os.path.join(cfg, "config_downloads.yaml"), "w") as f:
        f.write("defaults:\n  tries: 1\n  retry_delay: 0\n")
    with open(os.path.join(cfg, "config_general.yaml"), "w") as f:
        f.write("environment: bench\n")
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"catalog_id": CATALOG_ID, "kind": kind, "seed": seed,
                   "distributions": truth}, f, sort_keys=True,
                  separators=(",", ":"))
    return truth


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--kind", choices=["excel", "direct"], required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--distributions", type=int, default=12)
    p.add_argument("--every-fault", action="store_true",
                   help="one distribution per fault class")
    p.add_argument("--sparse", action="store_true",
                   help="a few empty cells in the clean distributions")
    a = p.parse_args()
    truth = generate(a.kind, a.seed, a.out, a.distributions,
                     every_fault=a.every_fault, sparse=a.sparse)
    faults = sum(1 for t in truth if t["fault"])
    print(f"{a.kind}: {len(truth)} distributions, {faults} faulty -> {a.out}")


if __name__ == "__main__":
    main()
