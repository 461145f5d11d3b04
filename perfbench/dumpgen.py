"""Seeded synthetic National Caseload Data dump.

Writes a monthly-dump-shaped set of zips in the reference's layout: each
zip holds a ``README.TXT`` with several normal-table schemas, normal
tables as one unsuffixed file (unpartitioned) or one ``_{DISTRICT}`` file
per district (partitioned), a UTF-8 ``global_LIONS.txt`` and ``table_gs_*``
lookup files.  Normal-table and lookup members are latin-1.

The data plants the fidelity traps the ingest tests pin: ``*`` redactions,
impossible dates (``31-FEB``), decimal text in NUMBER cells, CR inside a
row, latin-1 high bytes and a lookup file whose table follows a double
blank line.  Alongside the zips it returns a manifest of what a correct
ingest must produce per table: row count, redacted cells per column and
NULL cells per typed (NUMBER / DATE / FLOAT) column.

Row counts depend only on ``scale``; the seed changes every cell.
"""

from __future__ import annotations

import datetime
import os
import random
import re
import zipfile

DISTRICTS = (
    "ALM ALN AZ CAC CAN CAS CO CT DC FLM FLN FLS GAN GAS ILN MA MDL NJ "
    "NYE NYS PAE TXN TXS WAW"
).split()
DISTRICT_NAMES = {
    "ALM": "Middle Alabama", "ALN": "Northern Alabama", "AZ": "Arizona",
    "CAC": "Central California", "CAN": "Northern California",
    "CAS": "Southern California", "CO": "Colorado", "CT": "Connecticut",
    "DC": "District of Columbia", "FLM": "Middle Florida",
    "FLN": "Northern Florida", "FLS": "Southern Florida",
    "GAN": "Northern Georgia", "GAS": "Southern Georgia",
    "ILN": "Northern Illinois", "MA": "Massachusetts", "MDL": "Multi-district",
    "NJ": "New Jersey", "NYE": "Eastern New York", "NYS": "Southern New York",
    "PAE": "Eastern Pennsylvania", "TXN": "Northern Texas",
    "TXS": "Southern Texas", "WAW": "Western Washington",
}
STATUS = {"OP": "Open", "CL": "Closed", "PN": "Pending", "AP": "On appeal"}
EVENT_CODES = {
    "ARRG": "Arraignment", "SENT": "Sentencing", "PLEA": "Plea entered",
    "TRIA": "Trial start", "DISM": "Dismissal", "APPL": "Appeal filed",
}
PROGRAMS = {
    "DRG": "Drug dealing", "FRD": "Fraud", "IMM": "Immigration",
    "VCR": "Violent crime", "WPN": "Weapons", "ORG": "Organized crime",
}
ROLES = {"DF": "Defendant", "WT": "Witness", "VC": "Victim"}
CHARGES = ("18USC922", "21USC841", "8USC1326", "18USC1343", "18USC1028")
# latin-1 high bytes (one byte, one character after staging).
LAST_NAMES = (
    "Peña", "Müller", "Øster", "García", "Núñez", "Smith", "Jones", "Brown",
    "Lefèvre", "Ångström", "Olsen", "Kowalski",
)
MONTHS = "JAN FEB MAR APR MAY JUN JUL AUG SEP OCT NOV DEC".split()

# Per-cell trap probabilities.
P_REDACT = 0.02
P_BAD_DATE = 0.01
P_DECIMAL = 0.01
P_CR = 0.01

# (name, type, width) per normal table; extents follow field order.
NORMAL_TABLES = {
    "GS_CASE": (
        ("CASE_ID", "VARCHAR2", 10),
        ("DISTRICT", "VARCHAR2", 3),
        ("TOTAL_DEFENDANTS", "NUMBER", 5),
        ("FILED_DATE", "DATE", 11),
        ("LEAD_CHARGE_WT", "FLOAT", 8),
        ("STATUS_CODE", "VARCHAR2", 2),
        ("PROGRAM_CAT", "VARCHAR2", 3),
    ),
    "GS_COURT_HIST": (
        ("CASE_ID", "VARCHAR2", 10),
        ("EVENT_DATE", "DATE", 11),
        ("EVENT_CODE", "VARCHAR2", 4),
        ("JUDGE_ID", "NUMBER", 6),
    ),
    "GS_PARTICIPANT": (
        ("CASE_ID", "VARCHAR2", 10),
        ("PARTICIPANT_ID", "NUMBER", 8),
        ("LAST_NAME", "VARCHAR2", 12),
        ("ROLE_CODE", "VARCHAR2", 2),
        ("DISPOSITION_DATE", "DATE", 11),
        ("SENTENCE_MONTHS", "NUMBER", 4),
    ),
    "GS_CHARGE": (
        ("CASE_ID", "VARCHAR2", 10),
        ("CHARGE_SEQ", "NUMBER", 3),
        ("STATUTE", "VARCHAR2", 10),
        ("SEVERITY", "FLOAT", 6),
    ),
}
# zip name -> normal tables whose schemas its README carries
ZIPS = {
    "ncd_cases.zip": ("GS_CASE", "GS_COURT_HIST"),
    "ncd_parties.zip": ("GS_PARTICIPANT", "GS_CHARGE"),
}
PARTITIONED = {"GS_COURT_HIST", "GS_PARTICIPANT", "GS_CHARGE"}
# rows per table at scale 1.0
BASE_ROWS = {
    "GS_CASE": 60_000,
    "GS_COURT_HIST": 72_000,
    "GS_PARTICIPANT": 48_000,
    "GS_CHARGE": 24_000,
}


def _date_text(rng: random.Random) -> str:
    day = datetime.date(1995, 1, 1) + datetime.timedelta(days=rng.randrange(9000))
    return f"{day.day:02d}-{MONTHS[day.month - 1]}-{day.year}"


class _Table:
    """Rows of one normal table plus the counts a correct ingest yields."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.fields = NORMAL_TABLES[name]
        self.rows = 0
        self.redacted = {f: 0 for f, _, _ in self.fields}
        self.nulls = {f: 0 for f, t, _ in self.fields if t != "VARCHAR2"}

    def row(self, rng: random.Random, values: dict[str, object]) -> str:
        """Fixed-width row from raw values, applying the cell traps."""
        cells = []
        for fname, ftype, width in self.fields:
            v = values[fname]
            redactable = fname != "CASE_ID"
            if redactable and rng.random() < P_REDACT:
                self.redacted[fname] += 1
                if ftype != "VARCHAR2":
                    self.nulls[fname] += 1
                cells.append("*".ljust(width) if ftype != "NUMBER" else "*".rjust(width))
                continue
            if ftype == "DATE":
                if rng.random() < P_BAD_DATE:
                    v = f"{rng.choice(('30', '31'))}-FEB-{rng.randrange(1995, 2020)}"
                    self.nulls[fname] += 1
                text = str(v).ljust(width)
            elif ftype == "NUMBER":
                if rng.random() < P_DECIMAL:
                    v = f"{rng.randint(1, 9)}.5"
                    self.nulls[fname] += 1
                text = str(v).rjust(width)
            elif ftype == "FLOAT":
                text = f"{v:{width}.2f}"
            else:
                text = str(v).ljust(width)
                if fname != "CASE_ID" and rng.random() < P_CR:
                    # CR replaces one padding/value char: offsets unchanged.
                    pos = rng.randrange(width)
                    text = text[:pos] + "\r" + text[pos + 1 :]
            if len(text) != width:
                raise ValueError(f"{self.name}.{fname}: {text!r} is not {width} wide")
            cells.append(text)
        self.rows += 1
        return "".join(cells)

    def readme_block(self, description: str) -> str:
        lines = [f"{self.name} - {description}"]
        start = 1
        for fname, ftype, width in self.fields:
            end = start + width - 1
            null = "NOT NULL" if fname == "CASE_ID" else ""
            lines.append(
                f"    {fname:<18}{null:<10}{ftype}({width})".ljust(50)
                + f"({start}:{end})"
            )
            start = end + 1
        return "\n".join(lines) + "\n"

    def manifest(self) -> dict:
        return {
            "rows": self.rows,
            "redacted": {k.lower(): v for k, v in self.redacted.items()},
            "nulls": {k.lower(): v for k, v in self.nulls.items()},
        }


def _case_id(i: int) -> str:
    return f"CS{i:08d}"


def _gen_rows(
    name: str, n: int, n_cases: int, rng: random.Random
) -> tuple[dict[str | None, list[str]], _Table]:
    """``{district_or_None: [row, ...]}`` and the table's manifest."""
    t = _Table(name)
    out: dict[str | None, list[str]] = {}
    for i in range(n):
        if name == "GS_CASE":
            vals = {
                "CASE_ID": _case_id(i),
                "DISTRICT": rng.choice(DISTRICTS),
                "TOTAL_DEFENDANTS": rng.randint(1, 40),
                "FILED_DATE": _date_text(rng),
                "LEAD_CHARGE_WT": rng.uniform(0, 9999),
                "STATUS_CODE": rng.choice(tuple(STATUS)),
                "PROGRAM_CAT": rng.choice(tuple(PROGRAMS)),
            }
        elif name == "GS_COURT_HIST":
            vals = {
                "CASE_ID": _case_id(rng.randrange(n_cases)),
                "EVENT_DATE": _date_text(rng),
                "EVENT_CODE": rng.choice(tuple(EVENT_CODES)),
                "JUDGE_ID": rng.randint(1, 999_999),
            }
        elif name == "GS_PARTICIPANT":
            vals = {
                "CASE_ID": _case_id(rng.randrange(n_cases)),
                "PARTICIPANT_ID": i + 1,
                "LAST_NAME": rng.choice(LAST_NAMES),
                "ROLE_CODE": rng.choice(tuple(ROLES)),
                "DISPOSITION_DATE": _date_text(rng),
                "SENTENCE_MONTHS": rng.randint(0, 480),
            }
        else:
            vals = {
                "CASE_ID": _case_id(rng.randrange(n_cases)),
                "CHARGE_SEQ": rng.randint(1, 99),
                "STATUTE": rng.choice(CHARGES),
                "SEVERITY": rng.uniform(0, 100),
            }
        district = rng.choice(DISTRICTS) if name in PARTITIONED else None
        out.setdefault(district, []).append(t.row(rng, vals))
    return out, t


def _ruler_table(columns: list[str], rows: list[tuple[str, ...]]) -> tuple[str, list]:
    """Header, hyphen divider and rows, two spaces between columns."""
    widths = [
        max(len(c), *(len(r[i]) for r in rows)) for i, c in enumerate(columns)
    ]

    def line(cells):
        return "  ".join(c.ljust(w) for c, w in zip(cells, widths)).rstrip()

    text = [line(columns), "  ".join("-" * w for w in widths)]
    text += [line(r) for r in rows]
    return "\n".join(text) + "\n"


def _codebook(
    rng: random.Random, codes: dict[str, str], columns: list[str], extra=None
) -> tuple[list[tuple[str, ...]], dict]:
    """Codebook rows (one redacted row planted) and their manifest."""
    items = list(codes.items())
    # One redacted code, as the reference's codebooks carry.
    items.append(("*", "Redacted " + rng.choice(("entry", "code", "value"))))
    rows = [(code, label) + ((extra(code),) if extra else ()) for code, label in items]
    redacted = {
        re.sub(r"(?<!^)([A-Z])", r"_\1", c).lower(): sum(r[i] == "*" for r in rows)
        for i, c in enumerate(columns)
    }
    return rows, {"rows": len(rows), "redacted": redacted, "nulls": {}}


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Write the dump's zips under ``out_dir``; return the manifest.

    Manifest: ``{"zips": [path, ...], "tables": {table_lower: {...}},
    "normal_tables": [...], "input_rows": n, "input_bytes": n}`` where
    ``input_bytes`` counts the uncompressed fixed-width normal-table
    members.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cases = max(1, int(BASE_ROWS["GS_CASE"] * scale))
    tables: dict[str, dict] = {}
    zips = []
    input_rows = input_bytes = 0
    for zip_name, normal in ZIPS.items():
        path = os.path.join(out_dir, zip_name)
        with zipfile.ZipFile(path, "w") as zf:
            readme = [
                "National Caseload Data -- synthetic extract.\n"
                "Field positions are 1-based and inclusive.\n"
            ]
            for name in normal:
                n = max(1, int(BASE_ROWS[name] * scale))
                files, t = _gen_rows(name, n, n_cases, rng)
                readme.append(t.readme_block(f"{name.title()} records"))
                for district, rows in sorted(files.items(), key=lambda kv: kv[0] or ""):
                    member = name.lower() + (f"_{district}" if district else "") + ".txt"
                    # The unpartitioned file uses CRLF line ends, as DOJ's do.
                    eol = "\n" if district else "\r\n"
                    data = (eol.join(rows) + eol).encode("latin-1")
                    input_bytes += len(data)
                    _put(zf, member, data)
                tables[name.lower()] = t.manifest()
                input_rows += t.rows
            _put(zf, "README.TXT", "\n".join(readme).encode("latin-1"))
            if zip_name == "ncd_cases.zip":
                _write_global(zf, rng, tables)
            else:
                _write_lookups(zf, rng, tables)
        zips.append(path)
    return {
        "zips": zips,
        "tables": tables,
        "normal_tables": sorted(n.lower() for n in NORMAL_TABLES),
        "input_rows": input_rows,
        "input_bytes": input_bytes,
    }


def _put(zf: zipfile.ZipFile, member: str, data: bytes) -> None:
    """Add a member with a fixed timestamp, so a seed gives identical zips."""
    info = zipfile.ZipInfo(member, date_time=(2018, 1, 15, 0, 0, 0))
    zf.writestr(info, data, compress_type=zipfile.ZIP_DEFLATED, compresslevel=1)


def _write_global(zf: zipfile.ZipFile, rng: random.Random, tables: dict) -> None:
    """Stacked UTF-8 global file: district and status codebooks."""
    parts = []
    for name, codes in (("GS_DISTRICT", DISTRICT_NAMES), ("GS_STATUS", STATUS)):
        columns = ["Code", "Name"] if name == "GS_DISTRICT" else ["Code", "Meaning"]
        # Non-latin-1 text: this member is UTF-8, unlike the rest of the zip.
        labeled = {k: v + (" — HQ" if k == "DC" else "") for k, v in codes.items()}
        rows, manifest = _codebook(rng, labeled, columns)
        parts.append(f"{name}\n\n" + _ruler_table(columns, rows))
        tables[name.lower()] = manifest
    _put(zf, "global_LIONS.txt", "\n".join(parts).encode("utf-8"))


def _write_lookups(zf: zipfile.ZipFile, rng: random.Random, tables: dict) -> None:
    """``table_gs_*`` codebooks; the event-code one follows two blank lines."""
    books = (
        ("GS_EVENT_CODE", EVENT_CODES, ["Code", "Description"], None, 2),
        ("GS_PROGRAM", PROGRAMS, ["Code", "Description", "ActiveFlag"],
         lambda c: "N" if c == "*" else rng.choice("YN"), 1),
        ("GS_ROLE", ROLES, ["Code", "Description"], None, 1),
    )
    for name, codes, columns, extra, blanks in books:
        rows, manifest = _codebook(rng, codes, columns, extra)
        text = (
            f"Codebook report for LIONS table {name}\nGenerated 01/15/2018\n"
            + "\n" * blanks
            + _ruler_table(columns, rows)
            + "\nEnd of report.\n"
        )
        _put(zf, f"table_{name.lower()}.txt", text.encode("latin-1"))
        tables[name.lower()] = manifest
