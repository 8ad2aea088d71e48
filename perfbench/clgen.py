"""Seeded old/new raw-data version tree for the changelog workload.

The tree has the shape of FIXTURES.md A1-A5: matched CSV pairs whose row
counts are log-uniform, a few .xlsx pairs, zip-wrapped CSVs, files added
and removed between versions, a .csv/.xlsx extension-mismatch pair, a
FAO-production pair for the country/species diff, and drift in columns,
dtypes and row counts. Next to the tree it writes truth.json, the answers
the ingest pipeline must reproduce. Pure Python; nothing from src/ is used
(the .xlsx files are written as hand-made OOXML).

    python3 perfbench/clgen.py OUT_DIR --seed 7
"""
import argparse
import csv
import io
import json
import math
import os
import random
import re
import shutil
import zipfile

ROWS_MIN, ROWS_MAX = 500, 12000
FAO_ROWS = 15000
XLSX_ROWS = (700, 1100)
# each seed gets this multiset of drifts and row-count changes, permuted, so
# the work per pass is the same for every seed
DRIFTS = ["add", "remove", "retype", "all"]
ROW_CHANGE = [1.0, 0.9, 1.1, 1.15]
N_CSV_PAIRS = len(DRIFTS)

# CleanProd's constants (assess_changes.qmd:300-315), restated here so the
# expected answers do not come from the code under test
EXCLUDED_GROUPS = {
    "PLANTAE AQUATICAE", "MAMMALIA", "AMPHIBIA, REPTILIA",
    "Amphibia, reptilia", "Plantae aquaticae", "Mammalia",
    "amphibia, reptilia", "plantae aquaticae", "mammalia"}
EXCLUDED_YEARBOOK = "Other aq. animals & products"
GROUPS = ["PISCES", "CRUSTACEA", "MOLLUSCA", "PLANTAE AQUATICAE", "MAMMALIA",
          "AMPHIBIA, REPTILIA", "Mammalia", "INVERTEBRATA AQUATICA"]
YEARBOOK = ["Fish, crustaceans and molluscs, etc.", "Aquatic plants",
            EXCLUDED_YEARBOOK]
GENERA = ["Gadus", "Salmo", "Thunnus", "Penaeus", "Mytilus", "Oreochromis",
          "Cyprinus", "Clupea", "Sardina", "Engraulis", "Crassostrea",
          "Laminaria", "Scomber", "Merluccius", "Pangasius", "Homarus"]
EPITHETS = ["morhua", "salar", "albacares", "monodon", "edulis", "niloticus",
            "carpio", "harengus", "pilchardus", "japonicus", "gigas",
            "digitata", "scombrus", "hubbsi", "hypophthalmus", "americanus"]


def std_key(name):
    """FileManifest.stdKeyStr restated (assess_changes.qmd:87-94)."""
    s = re.sub(r"^filtered_", "", name)
    s = re.sub(r"_V\d{6,7}[a-z]*", "", s)
    s = re.sub(r"\.[a-zA-Z0-9]+$", "", s)
    return re.sub(r"[^a-zA-Z0-9]", "_", s).lower()


def _value(rng, kind, i):
    if kind == "int":
        return str(rng.randint(0, 99999))
    if kind == "double":
        return f"{rng.uniform(0, 5000):.2f}"
    if kind == "boolean":
        return "true" if rng.random() < 0.5 else "false"
    return f"v{i % 97}_{rng.randint(0, 999)}"


def _csv_text(header, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue()


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    mode = "wb" if isinstance(data, bytes) else "w"
    with open(path, mode) as f:
        f.write(data)


def _table(rng, cols, n):
    return [[_value(rng, kind, i) for _, kind in cols] for i in range(n)]


def xlsx_bytes(rows):
    """Minimal one-sheet workbook: numeric cells for numbers, inline
    strings otherwise."""
    def ref(ci, ri):
        s, n = "", ci + 1
        while n:
            n, r = divmod(n - 1, 26)
            s = chr(65 + r) + s
        return f"{s}{ri + 1}"

    def esc(v):
        return v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    cells = []
    for ri, row in enumerate(rows):
        cells.append(f'<row r="{ri + 1}">')
        for ci, v in enumerate(row):
            if re.fullmatch(r"-?\d+(\.\d+)?", v):
                cells.append(f'<c r="{ref(ci, ri)}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref(ci, ri)}" t="inlineStr"><is><t>{esc(v)}</t></is></c>')
        cells.append("</row>")
    head = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    parts = {
        "[Content_Types].xml": head +
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '</Types>',
        "_rels/.rels": head + f'<Relationships xmlns="{pkg}">'
        f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
        '</Relationships>',
        "xl/workbook.xml": head + f'<workbook xmlns="{main}" xmlns:r="{rel}">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels": head + f'<Relationships xmlns="{pkg}">'
        f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
        '</Relationships>',
        "xl/worksheets/sheet1.xml": head + f'<worksheet xmlns="{main}"><sheetData>'
        + "".join(cells) + "</sheetData></worksheet>",
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            # fixed timestamps keep the archive byte-identical per seed
            z.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), body)
    return buf.getvalue()


def _zip_bytes(members):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in members:
            z.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), body)
    return buf.getvalue()


def _fao(rng, n, countries, species):
    header = ["country", "country_iso3_code", "prod_method", "species_name_en",
              "species_scientific_name", "species_major_group",
              "yearbook_group_en", "year", "value"]
    rows = []
    for _ in range(n):
        code, num = rng.choice(countries)
        sci, common = rng.choice(species)
        shown = sci
        if rng.random() < 0.3:
            shown = shown.upper() if rng.random() < 0.5 else shown.lower()
        if rng.random() < 0.1:
            shown += f" (={rng.choice(GENERA)} {rng.choice(EPITHETS)})"
        if rng.random() < 0.1:
            shown = f"  {shown} "
        group = "" if rng.random() < 0.05 else rng.choice(GROUPS)
        yb = "" if rng.random() < 0.05 else rng.choice(YEARBOOK)
        rows.append([str(num), code, rng.choice(["Aquaculture", "Capture"]),
                     common, shown, group, yb, str(rng.randint(1990, 2023)),
                     f"{rng.uniform(0, 1e5):.1f}"])
    return header, rows


def _fao_sets(rows):
    """CleanProd.clean + distinct (assess_changes.qmd:279-325): an empty
    CSV field reads as null, R's `!%in%` keeps null groups, `!=` drops null
    yearbook rows."""
    countries, species, kept = set(), set(), 0
    for r in rows:
        group, yb = r[5].strip(), r[6].strip()
        if r[5] != "" and group in EXCLUDED_GROUPS:
            continue
        if r[6] == "" or yb == EXCLUDED_YEARBOOK:
            continue
        kept += 1
        countries.add(r[1].strip())
        species.add(re.sub(r" \(=.*", "", r[4].lower().strip()))
    return countries, species, kept


def generate(out, seed):
    rng = random.Random(seed)
    if os.path.exists(out):
        shutil.rmtree(out)
    old, new = os.path.join(out, "old"), os.path.join(out, "new")
    pairs, manifest = {}, {}

    def put(root, rel, data):
        _write(os.path.join(root, rel), data)

    # matched CSV pairs: stratified log-uniform row counts, seed-shuffled,
    # so every seed has the same volume but a different layout
    sizes = [round(math.exp(math.log(ROWS_MIN) + (i + 0.5) / N_CSV_PAIRS *
                            (math.log(ROWS_MAX) - math.log(ROWS_MIN))))
             for i in range(N_CSV_PAIRS)]
    drifts = rng.sample(DRIFTS, N_CSV_PAIRS)
    changes = rng.sample(ROW_CHANGE, N_CSV_PAIRS)
    rng.shuffle(sizes)
    for i, n_old in enumerate(sizes):
        cols = [("id", "int"), ("name", "string"), ("amount", "double"),
                ("qty", "int"), ("flag", "boolean"), ("note", "string")]
        drift = drifts[i]
        new_cols = list(cols)
        if drift in ("add", "all"):
            new_cols.append(("extra_" + rng.choice(["code", "unit", "src"]), "string"))
        if drift in ("remove", "all"):
            new_cols = [c for c in new_cols if c[0] != "note"]
        if drift in ("retype", "all"):
            new_cols = [(c, "double") if c == "qty" else (c, k) for c, k in new_cols]
        n_new = int(n_old * changes[i])
        sub = rng.choice(["trade", "production", "catch"])
        fo = f"{sub}/filtered_Table{i:02d}_V202211.csv"
        fn = f"{sub}/Table{i:02d}_V202410{rng.choice(['', 'a', 'b'])}.csv"
        put(old, fo, _csv_text([c for c, _ in cols], _table(rng, cols, n_old)))
        put(new, fn, _csv_text([c for c, _ in new_cols], _table(rng, new_cols, n_new)))
        ok, nk = dict(cols), dict(new_cols)
        pairs[std_key(os.path.basename(fo))] = {
            "old_rows": n_old, "new_rows": n_new,
            "added": sorted(set(nk) - set(ok)), "removed": sorted(set(ok) - set(nk)),
            "type_changed": sorted(c for c in set(ok) & set(nk) if ok[c] != nk[c])}

    # .xlsx pairs: every cell reads back as a string, so only column-set
    # and row-count drift show
    for j in range(2):
        hdr = ["species", "area", "tonnes"]
        new_hdr = hdr + (["source"] if j == 0 else [])
        n_old, n_new = XLSX_ROWS if j == 0 else XLSX_ROWS[::-1]

        def sheet(h, n):
            return [h] + [[f"sp{rng.randint(0, 300)}", f"area {rng.randint(1, 88)}",
                           str(rng.randint(0, 9999))] + (["fao"] if len(h) == 4 else [])
                          for _ in range(n)]
        put(old, f"species/Species_Area{j}_V202211.xlsx", xlsx_bytes(sheet(hdr, n_old)))
        put(new, f"species/Species_Area{j}_V202410.xlsx", xlsx_bytes(sheet(new_hdr, n_new)))
        pairs[f"species_area{j}"] = {
            "old_rows": n_old, "new_rows": n_new,
            "added": sorted(set(new_hdr) - set(hdr)), "removed": [], "type_changed": []}

    # FAO production pair: overlapping but different country/species sets
    countries = [(f"C{k:02d}", 100 + k) for k in range(40)]
    species = [(f"{g} {e}", f"{e} fish") for g in GENERA for e in EPITHETS[:6]]
    oc = rng.sample(countries, 32)
    nc = rng.sample(countries, 32)
    osp = rng.sample(species, 70)
    nsp = rng.sample(species, 70)
    h, orows = _fao(rng, FAO_ROWS, oc, osp)
    _, nrows = _fao(rng, int(FAO_ROWS * 1.05), nc, nsp)
    put(old, "global_production/filtered_Aquaculture_Quantity_V202211.csv", _csv_text(h, orows))
    put(new, "global_production/filtered_Aquaculture_Quantity_V202410a.csv", _csv_text(h, nrows))
    pairs["aquaculture_quantity"] = {
        "old_rows": len(orows), "new_rows": len(nrows),
        "added": [], "removed": [], "type_changed": []}
    o_c, o_s, _ = _fao_sets(orows)
    n_c, n_s, sink_rows = _fao_sets(nrows)
    diff = sorted(
        [("country", "removed", v) for v in o_c - n_c] +
        [("country", "added", v) for v in n_c - o_c] +
        [("species", "removed", v) for v in o_s - n_s] +
        [("species", "added", v) for v in n_s - o_s])

    # manifest-only files: zip-wrapped CSVs, notes, added/removed files and
    # a .csv/.xlsx extension mismatch that the pair compare must skip
    for root, tag in ((old, "V202211"), (new, "V202410")):
        members = [(f"prod_{k}.csv", _csv_text(["a", "b"], _table(
            rng, [("a", "int"), ("b", "double")], rng.randint(2000, 6000))))
            for k in range(2)]
        put(root, f"global_production/GlobalProduction_{tag}.zip", _zip_bytes(members))
        put(root, "global_production/notes.txt",
            "notes\n" * rng.randint(5, 50))
    put(old, "global_production/SpeciesGroups_V202211.csv",
        _csv_text(["code", "group"], [[str(k), rng.choice(GROUPS)] for k in range(300)]))
    put(new, "global_production/SpeciesGroups_V202410.xlsx",
        xlsx_bytes([["code", "group"]] + [[str(k), rng.choice(GROUPS)] for k in range(300)]))
    for k in range(rng.randint(1, 3)):
        put(old, f"trade/legacy_only_{k}.csv", _csv_text(["x"], [[str(v)] for v in range(50)]))
    for k in range(rng.randint(1, 3)):
        put(new, f"trade/brand_new_table_{k}.csv", _csv_text(["y"], [[str(v)] for v in range(80)]))

    for tag, root in (("old", old), ("new", new)):
        for d, _, files in os.walk(root):
            for f in files:
                manifest.setdefault(std_key(f), {})[tag] = os.path.getsize(os.path.join(d, f))
    file_diff = sorted(
        [k, "old" in v, "new" in v,
         round((v["new"] - v["old"]) / 1e6, 6) if len(v) == 2 else None]
        for k, v in manifest.items())
    truth = {"file_diff": file_diff, "pairs": pairs,
             "country_species": [list(r) for r in diff], "sink_rows": sink_rows}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    generate(a.out, a.seed)
