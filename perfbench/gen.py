"""Deterministic input generator for the ETL workloads.

Every input is derived from the reference fixture in
``src/test/resources/refgolden`` (5 CSVs, ``excel_data.xlsx``,
``config.yaml``) and the seed; nothing else is read.

* ``etl_cohort``: ``patients`` patient blocks. The seed picks each block's
  template patient (one of the 8 reference patients) and the block order.
  All eight tables (5 CSVs + 3 sheets) are written as patients-as-rows
  CSVs: a 10^4-column patients-as-columns file is not a real export, so
  those tables are re-oriented. Rows of one patient keep their order, so
  the fact order inside a packet is that of the template.
* ``etl_sites``: ``sites`` full copies of the fixture in its native shape
  (5 CSVs, two patients-as-columns, plus the 3-sheet workbook) with ids
  remapped per site in the CSV text and in ``xl/sharedStrings.xml``. The
  seed picks each site's id prefix and how the sites' data sources
  interleave in the config; each site's own sources keep their relative
  order.

Each generated directory holds ``config.yaml`` (output dir left as the
``${OUT}`` placeholder) and ``manifest.json``: seed, size, input bytes and
the template of every subject id, which the packet oracle reads.
"""
import csv
import hashlib
import io
import json
import random
import re
import shutil
import zipfile
import xml.etree.ElementTree as ET
from datetime import date, timedelta
from pathlib import Path

FIXTURE = Path("src/test/resources/refgolden")
TEMPLATES = [f"P00{i}" for i in range(1, 9)]
NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
ID_RE = re.compile(r"\bP00[1-8]\b")


def _read_csv(name):
    with open(FIXTURE / "input_data" / name, newline="") as f:
        return list(csv.reader(f))


def _transpose(rows):
    """Patients-as-columns grid -> header row + one row per patient column."""
    width = max(len(r) for r in rows)
    rows = [r + [""] * (width - len(r)) for r in rows]
    return [list(col) for col in zip(*rows)]


def _xlsx_sheets(path):
    """Decode the workbook's sheets to string grids, mirroring the engine's
    cell rules: shared strings, integral numbers without a fraction,
    date-styled serials as ISO dates, missing cells as None."""
    with zipfile.ZipFile(path) as z:
        shared = [
            "".join(t.text or "" for t in si.iter(f"{{{NS['m']}}}t"))
            for si in ET.fromstring(z.read("xl/sharedStrings.xml")).findall("m:si", NS)
        ]
        styles = ET.fromstring(z.read("xl/styles.xml"))
        custom = {
            nf.get("numFmtId")
            for nf in styles.findall("m:numFmts/m:numFmt", NS)
            if any(ch in re.sub(r'\[[^]]*\]|"[^"]*"', "", nf.get("formatCode").lower())
                   for ch in "ymdhs")
        }
        builtin = {str(i) for i in list(range(14, 23)) + [45, 46, 47]}
        date_styles = {
            str(i)
            for i, xf in enumerate(styles.findall("m:cellXfs/m:xf", NS))
            if xf.get("numFmtId", "0") in builtin | custom
        }
        book = ET.fromstring(z.read("xl/workbook.xml"))
        names = [s.get("name") for s in book.findall("m:sheets/m:sheet", NS)]
        grids = {}
        for i, name in enumerate(names, start=1):
            sheet = ET.fromstring(z.read(f"xl/worksheets/sheet{i}.xml"))
            cells = {}
            for c in sheet.iter(f"{{{NS['m']}}}c"):
                v = c.find("m:v", NS)
                if v is None or not v.text:
                    continue
                ref = c.get("r")
                col = 0
                for ch in re.match(r"[A-Z]+", ref).group(0):
                    col = col * 26 + ord(ch) - 64
                row = int(re.search(r"\d+", ref).group(0)) - 1
                if c.get("t") == "s":
                    val = shared[int(v.text)]
                elif c.get("s") in date_styles:
                    val = (date(1899, 12, 30) + timedelta(days=int(float(v.text)))).isoformat()
                else:
                    num = float(v.text)
                    val = str(int(num)) if num == int(num) else v.text
                cells[(row, col - 1)] = val
            n_rows = max(r for r, _ in cells) + 1
            n_cols = max(c for _, c in cells) + 1
            grids[name] = [[cells.get((r, c)) for c in range(n_cols)] for r in range(n_rows)]
    return grids


def _cohort_tables():
    """The fixture's 8 tables as (file, has_headers, header, {template: rows}),
    all patients-as-rows, in config order."""
    sheets = _xlsx_sheets(FIXTURE / "input_data" / "excel_data.xlsx")
    raw = [
        ("csv_data.csv", False, _read_csv("csv_data.csv")),
        ("csv_data_2.csv", True, _transpose(_read_csv("csv_data_2.csv"))),
        ("csv_data_3.csv", True, _transpose(_read_csv("csv_data_3.csv"))),
        ("csv_data_4.csv", True, _read_csv("csv_data_4.csv")),
        ("csv_data_5.csv", True, _read_csv("csv_data_5.csv")),
        ("basic_info.csv", True, sheets["basic info"]),
        ("conditions.csv", True, _transpose(sheets["conditions"])),
        ("more_conditions.csv", True, _transpose(sheets["more conditions"])),
    ]
    tables = []
    for name, has_headers, rows in raw:
        header, body = (rows[0], rows[1:]) if has_headers else (None, rows)
        by_patient = {}
        for r in body:
            by_patient.setdefault(r[0].strip(), []).append(r[1:])
        tables.append((name, has_headers, header, by_patient))
    return tables


def _cohort_config(fixture_cfg):
    """Rewrite the fixture config for the re-oriented, all-CSV cohort."""
    head, rest = fixture_cfg.split("  - type: excel\n", 1)
    excel, pipeline = rest.split("\npipeline:\n", 1)
    files = iter(["csv_data.csv", "csv_data_2.csv", "csv_data_3.csv",
                  "csv_data_4.csv", "csv_data_5.csv"])
    head = re.sub(r"\$\{REFGOLDEN_DIR\}/input_data/csv_data(_\d)?\.csv",
                  lambda m: "${IN}/" + next(files), head)
    head = head.replace("patients_are_rows: false", "patients_are_rows: true")
    sheets = []
    for block in excel.split("      - sheet_name: ")[1:]:
        name, body = block.split("\n", 1)
        body = body.replace("patients_are_rows: false", "patients_are_rows: true")
        body = "\n".join(line[4:] for line in body.splitlines())
        fname = name.replace(" ", "_") + ".csv"
        sheets.append(f"  - type: csv\n    source: ${{IN}}/{fname}\n    name: {name}\n{body}\n")
    return head + "".join(sheets) + "pipeline:\n" + pipeline


def _write_cohort(out, rng, patients):
    tables = _cohort_tables()
    subjects = {f"C{i:07d}": rng.choice(TEMPLATES) for i in range(patients)}
    order = list(subjects)
    rng.shuffle(order)
    for name, has_headers, header, by_patient in tables:
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        if has_headers:
            w.writerow(header)
        for sid in order:
            for row in by_patient.get(subjects[sid], ()):
                w.writerow([sid] + row)
        (out / name).write_text(buf.getvalue())
    cfg = _cohort_config((FIXTURE / "config.yaml").read_text())
    return subjects, cfg


def _site_config(fixture_cfg, n_sites, rng):
    """One data_sources entry per (site, source), interleaved by the seed."""
    head, rest = fixture_cfg.split("data_sources:\n", 1)
    sources_txt, pipeline = rest.split("\npipeline:\n", 1)
    sources = ["  - type:" + s for s in sources_txt.split("  - type:")[1:]]
    queues = [[(site, s) for s in sources] for site in range(n_sites)]
    merged = []
    while any(queues):
        q = rng.choice([q for q in queues if q])
        merged.append(q.pop(0))
    out = []
    for site, s in merged:
        s = s.rstrip("\n") + "\n"
        s = s.replace("${REFGOLDEN_DIR}/input_data/", f"${{IN}}/site{site:02d}/")
        s = re.sub(r"(\n    name: )(\S+)", rf"\1site{site:02d}_\2", s)
        out.append(s)
    return head + "data_sources:\n" + "".join(out) + "pipeline:\n" + pipeline


def _write_sites(out, rng, n_sites):
    subjects = {}
    src = FIXTURE / "input_data"
    prefixes = rng.sample(range(16 ** 4), n_sites)
    for site in range(n_sites):
        d = out / f"site{site:02d}"
        d.mkdir()
        ids = {t: f"S{prefixes[site]:04x}{t}" for t in TEMPLATES}
        subjects.update({v: k for k, v in ids.items()})
        remap = lambda text: ID_RE.sub(lambda m: ids[m.group(0)], text)
        for f in sorted(src.glob("*.csv")):
            (d / f.name).write_text(remap(f.read_text()))
        with zipfile.ZipFile(src / "excel_data.xlsx") as zin, \
                zipfile.ZipFile(d / "excel_data.xlsx", "w", zipfile.ZIP_DEFLATED) as zout:
            for item in zin.infolist():
                data = zin.read(item.filename)
                if item.filename == "xl/sharedStrings.xml":
                    data = remap(data.decode("utf-8")).encode("utf-8")
                zout.writestr(item, data)
    cfg = _site_config((FIXTURE / "config.yaml").read_text(), n_sites, rng)
    return subjects, cfg


def generate(workload, seed, size, root):
    """Build (or reuse) the inputs of ``workload`` under ``root``; returns
    the manifest. ``size`` is the patient count (etl_cohort) or the site
    count (etl_sites)."""
    root = Path(root)
    # Cached inputs are rebuilt when this generator changes, too.
    key = {"gen": hashlib.sha256(Path(__file__).read_bytes()).hexdigest(),
           "workload": workload, "seed": seed, "size": size}
    manifest_path = root / "manifest.json"
    if manifest_path.exists():
        manifest = json.loads(manifest_path.read_text())
        if manifest.get("key") == key:
            return manifest
    if root.exists():
        shutil.rmtree(root)
    inputs = root / "in"
    inputs.mkdir(parents=True)
    rng = random.Random(f"{workload}:{seed}")
    if workload == "etl_cohort":
        subjects, cfg = _write_cohort(inputs, rng, size)
    elif workload == "etl_sites":
        subjects, cfg = _write_sites(inputs, rng, size)
    else:
        raise ValueError(f"no generator for {workload}")
    cfg = (cfg.replace("${IN}", str(inputs.resolve()))
              .replace("${REFGOLDEN_DIR}", str(FIXTURE.resolve()))
              .replace("${REFGOLDEN_OUT}", "${OUT}"))
    (root / "config.yaml").write_text(cfg)
    input_bytes = sum(p.stat().st_size for p in inputs.rglob("*") if p.is_file())
    manifest = {"key": key, "input_bytes": input_bytes, "subjects": subjects}
    manifest_path.write_text(json.dumps(manifest))
    return manifest
