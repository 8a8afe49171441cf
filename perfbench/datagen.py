"""Seeded benchmark inputs.

Star-schema tables come from ``scripts/gen_scale_data.py``'s own table
generators, imported and driven with an RNG drawn from the workload
seed. Those generators profile the sf0.1 testdata tables for their
categorical domains; here that profile is read from ``profile.json``
(value frequencies, the document token unigram counts and the fixed
region/nation rows, extracted once from the sf0.1 testdata), so
generation needs nothing outside the checkout.

Raw filings for the medallion pipeline come from
:func:`raw_filings`, which plants name variants of a known set of
entities and returns the ground truth the output checks need.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _gen_module():
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        import gen_scale_data
    finally:
        sys.path.pop(0)
    return gen_scale_data


def _load_profile() -> dict:
    with open(os.path.join(HERE, "profile.json")) as f:
        return json.load(f)


def write_tables(out_dir: str, mult: float, rng: np.random.Generator) -> dict[str, int]:
    """Write every testdata table at scale ``mult`` (1.0 = the sf0.1 row
    counts) into ``out_dir``; return the row count of each table."""
    import duckdb

    gen = _gen_module()
    profile = _load_profile()
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, "_profile")
    os.makedirs(base, exist_ok=True)
    # the documents generator reads its token unigram from
    # <BASE>/documents.parquet: one row per token, repeated count times
    toks = profile["document_tokens"]
    pq.write_table(
        pa.table({"text": [" ".join([t] * c) for t, c in toks]}),
        os.path.join(base, "documents.parquet"),
    )
    cats = {
        key: (np.array([v for v, _ in rows], dtype=object), np.array([c for _, c in rows], dtype=float))
        for key, rows in profile["categorical"].items()
    }

    def cat(_con, table, col):
        vals, counts = cats[f"{table}.{col}"]
        return vals, counts / counts.sum()

    counts: dict[str, int] = {}

    def write(name, table):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    for name, types in (
        ("region", (pa.int32(), pa.string())),
        ("nation", (pa.int32(), pa.string(), pa.int32())),
    ):
        spec = profile[name]
        cols = list(zip(*spec["rows"]))
        write(
            name,
            pa.table(
                {c: pa.array(v, t) for c, v, t in zip(spec["columns"], cols, types)}
            ),
        )

    saved = gen.BASE, gen._cat
    gen.BASE, gen._cat = base, cat
    con = duckdb.connect()
    try:
        n_cust = max(1, int(gen.COUNTS["customer"] * mult))
        n_supp = max(1, int(gen.COUNTS["supplier"] * mult))
        n_part = max(1, int(gen.COUNTS["part"] * mult))
        n_ord = max(1, int(gen.COUNTS["orders"] * mult))
        gen._gen_customer(con, rng, write, n_cust)
        gen._gen_supplier(rng, write, n_supp)
        gen._gen_part(con, rng, write, n_part)
        gen._gen_orders_lineitem(
            con, rng, write, n_ord, n_cust, n_supp, n_part, lambda _n: True
        )
        gen._gen_events(con, rng, write, mult)
        gen._gen_documents(con, rng, write, mult)
        gen._gen_embeddings(rng, write, mult)
    finally:
        con.close()
        gen.BASE, gen._cat = saved
    return counts


# --- raw filings for the medallion pipeline ---------------------------------

_FIRST = (
    "Aldren Borvik Calyx Dunmore Evershaw Falbrook Garnett Halvorsen Ingram "
    "Jessup Kestrel Larkspur Merriam Northgate Oakhurst Pellham Quarry Redfern "
    "Stanwick Thornbury Umber Valemont Westbrook Yarrow Zephyr Ashcombe "
    "Brightwater Copperfield Driftwood Elmstead"
).split()
_SECOND = (
    "Atlas Beacon Cascade Delta Ember Frontier Granite Harbor Iris Juniper "
    "Keystone Lumen Meridian Nimbus Orbit Pioneer Quantum Ridge Summit Tidal "
    "Unity Vertex Willow Xenon"
).split()
#: every spelling, plural or not, keeps a business keyword of
#: ``classify.BUSINESS_KEYWORD_PATTERN``, so each entity is a company
#: whichever variant represents it
_KEYWORD = ("Telecom", "Network", "VoIP Services", "Telecom Solutions", "Network Group")
_SUFFIXES = ("LLC", "Inc.", ", L.L.C.", ", Inc.", "Corp.", "")

_VOIP = {"name": "24-132", "description": "Interconnected VoIP Numbering Authorization", "bureau_name": "WCB"}
_SECTION = {"name": "INBOX-52.15", "description": "Request under Section 52.15(g)(3)", "bureau_name": "WCB"}
_OTHER = {"name": "10-90", "description": "Universal service fund", "bureau_name": "OEA"}


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@dataclass(frozen=True)
class FilingTruth:
    """What a correct pipeline run over :func:`raw_filings` produces."""

    #: silver companies = gold rows (none is an excluded institution)
    entities: int
    #: canonical names of the entities whose enrichment is pre-cached
    seeded_names: tuple[str, ...]
    #: raw records of the timed input
    records: int


def _variants(core: str, rng: np.random.Generator, k: int) -> list[tuple[str, str]]:
    """``k`` raw spellings of one entity, each with its normalized form:
    legal-suffix, plural and punctuation variants that normalization
    plus fuzzy dedup must merge."""
    words = core.split(" ")
    last = words[-1]
    plural = " ".join(words[:-1] + [last[:-1] if last.endswith("s") else last + "s"])
    hyphen = "-".join(words[:2]) + " " + " ".join(words[2:])
    forms = [core, plural, hyphen]
    out = []
    for _ in range(k):
        form = forms[int(rng.integers(0, len(forms)))]
        suffix = _SUFFIXES[int(rng.integers(0, len(_SUFFIXES)))]
        sep = "" if suffix.startswith(",") or not suffix else " "
        out.append((f"{form}{sep}{suffix}", form.lower().replace("-", " ")))
    return out


def raw_filings(
    rng: np.random.Generator, n_entities: int, seeded_share: float = 0.4
) -> tuple[list[dict], FilingTruth]:
    """Generate raw landing records and their ground truth.

    The records hold ``n_entities`` relevant applicant companies, each
    spelled in several variants over 1-6 filings, plus comment-only
    companies (gated out) and companies with only irrelevant proceedings
    (filtered out). ``truth.seeded_names`` are the canonical names of
    the first ``seeded_share`` of the relevant entities: silver names an
    entity by the smallest normalized name in its component.
    """
    cores: list[str] = []
    by_first: dict[str, list[str]] = {}
    n_total = n_entities + n_entities // 4 + n_entities // 4
    if n_total > len(_FIRST) * len(_SECOND) * len(_KEYWORD) // 2:
        raise ValueError(f"too many entities for the name vocabulary: {n_total}")
    while len(cores) < n_total:
        first = _FIRST[int(rng.integers(0, len(_FIRST)))]
        core = f"{first} {_SECOND[int(rng.integers(0, len(_SECOND)))]} {_KEYWORD[int(rng.integers(0, len(_KEYWORD)))]}"
        low = core.lower()
        # distinct entities stay > 2 * max_edits apart inside their
        # first-token block, so plural variants can never bridge two
        if any(_lev(low, other) <= 5 for other in by_first.get(first, [])):
            continue
        by_first.setdefault(first, []).append(low)
        cores.append(core)
    relevant = cores[:n_entities]
    comment_only = cores[n_entities : n_entities + n_entities // 4]
    irrelevant = cores[n_entities + n_entities // 4 :]
    n_seeded = int(n_entities * seeded_share)

    records: list[dict] = []
    seeded: list[str] = []
    sid = 0

    def filing(name: str, stype: str, proc: dict) -> dict:
        nonlocal sid
        sid += 1
        day = int(rng.integers(1, 28))
        month = int(rng.integers(1, 13))
        return {
            "id_submission": f"b{sid:07d}",
            "date_received": f"2024-{month:02d}-{day:02d}T12:00:00.000Z",
            "date_disseminated": f"2024-{month:02d}-{day:02d}T12:00:00.000Z",
            "submissiontype": {"description": stype},
            "filingstatus": {"description": "ACCEPTED"},
            "proceedings": [proc],
            "filers": [{"name": name}],
            "authors": [{"name": "Counsel " + name.split(" ")[0]}],
            "lawfirms": [],
            "documents": [{"src": f"https://www.fcc.gov/ecfs/document/{sid}/1"}],
        }

    for i, core in enumerate(relevant):
        names = _variants(core, rng, int(rng.integers(1, 7)))
        records.extend(
            filing(
                name,
                "APPLICATION" if j == 0 else ("COMMENT", "AMENDMENT", "REQUEST")[int(rng.integers(0, 3))],
                _VOIP if rng.random() < 0.7 else _SECTION,
            )
            for j, (name, _norm) in enumerate(names)
        )
        if i < n_seeded:
            seeded.append(min(norm for _name, norm in names))
    for core in comment_only:
        records.extend(
            filing(name, "COMMENT", _VOIP) for name, _n in _variants(core, rng, int(rng.integers(1, 4)))
        )
    for core in irrelevant:
        records.extend(
            filing(name, "APPLICATION", _OTHER) for name, _n in _variants(core, rng, int(rng.integers(1, 4)))
        )
    order = rng.permutation(len(records))
    records = [records[i] for i in order]
    return records, FilingTruth(n_entities, tuple(seeded), len(records))


def write_jsonl(path: str, records: list[dict]) -> int:
    """Write ``records`` as one JSON object per line; return the bytes written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    return os.path.getsize(path)
