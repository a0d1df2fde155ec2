"""Deterministic zip-of-XML generator for the ``xml_ingest`` workload.

Each zip follows the eJP export layout the ``sources.xml_zip`` parser
reads: a ``go.xml`` manifest (``create_date`` attribute + ``file_nm``
members), one ``persons`` document (PersonV2 vocabulary) and a few
manuscript documents (``<xml>`` root: people, manuscript, versions).
The stream carries the traffic shapes the reference pipeline sees:

* person ids repeat across zips, so later zips update earlier rows;
* field drift: zip ``i`` of an epoch-sized group ``g`` adds the first
  ``g`` optional person fields, so every new epoch evolves the
  ``person_v2`` table schema by one column;
* malformed members (mismatched tags that the recovering parser cannot
  repair) are listed in the manifest and must land in quarantine;
* replayed zips: byte copies of an earlier zip under a new name.

The generator returns, beside the bytes, a per-zip manifest of what the
parser must produce; the output checks compare the tables against it.
"""

from __future__ import annotations

import io
import zipfile
from dataclasses import dataclass, field

import numpy as np

# optional person fields in the order drift introduces them:
# (payload column, XML fragment template)
DRIFT_FIELDS = (
    ("institution", "<institution>Inst {n}</institution>"),
    ("title", "<title>Dr</title>"),
    ("keywords", "<keywords><keyword>kw{n}</keyword><keyword>cdc</keyword></keywords>"),
    (
        "addresses",
        '<addresses><address active_ind="1" addr_type="work">'
        "<country>UK</country><city>City {n}</city></address></addresses>",
    ),
    (
        "organizations",
        "<organizations><organization><org-id>O{n}</org-id>"
        "<org-name>Org {n}</org-name></organization></organizations>",
    ),
)
# payload columns every person_v2 row carries (modified_timestamp is a
# reserved table column, not a payload column)
PERSON_V2_BASE_COLUMNS = ("provenance", "person_id", "first_name", "last_name", "email")

_ZIP_DATE = (2021, 1, 1, 0, 0, 0)
_MALFORMED = b"<persons><person><person-id>bad</persons></person-id>"


@dataclass
class ZipSpec:
    """What one generated zip must produce once parsed."""

    name: str
    data: bytes
    person_v2: set[str] = field(default_factory=set)
    person: set[str] = field(default_factory=set)
    manuscript: set[str] = field(default_factory=set)
    manuscript_version: set[str] = field(default_factory=set)
    drift_columns: set[str] = field(default_factory=set)
    entities: int = 0
    malformed: int = 0
    replay_of: int | None = None


def _persons_doc(ids: list[int], drift: int, zip_no: int) -> bytes:
    parts = ["<persons>"]
    for n in ids:
        extra = "".join(t.format(n=n) for _, t in DRIFT_FIELDS[:drift])
        parts.append(
            f"<person><person-id>P{n:07d}</person-id>"
            f"<first-name>First{n}</first-name><last-name>Last{n % 997}</last-name>"
            f"<email>p{n}@example.org</email>"
            f"<profile-modify-date>2021-02-03 04:{zip_no % 60:02d}:05</profile-modify-date>"
            f"{extra}</person>"
        )
    parts.append("</persons>")
    return "".join(parts).encode()


def _manuscript_doc(ms_no: int, n_versions: int, authors: list[int]) -> bytes:
    people = "".join(
        f"<person><person-id>A{a:07d}</person-id><first-name>Author{a}</first-name>"
        f"<last-name>Name{a % 101}</last-name></person>"
        for a in authors
    )
    versions = "".join(
        "<version>"
        f"<manuscript-number>01-01-2021-RA-eLife-{ms_no:06d}</manuscript-number>"
        "<manuscript-type>Research Article</manuscript-type>"
        f"<title>Manuscript {ms_no} v{v}</title>"
        "<history><stage><stage-name>Submission</stage-name>"
        f"<start-date>2021-0{1 + v}-01 00:00:00</start-date></stage></history>"
        "</version>"
        for v in range(n_versions)
    )
    return (
        f"<xml><people>{people}</people><manuscript><country>UK</country>"
        f"{versions}</manuscript></xml>"
    ).encode()


def _zip_bytes(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            zf.writestr(zipfile.ZipInfo(name, _ZIP_DATE), data)
    return buf.getvalue()


def generate_zips(
    seed: int,
    n_zips: int,
    zips_per_epoch: int,
    persons_per_zip: int,
    manuscripts_per_zip: int = 4,
    malformed_every: int = 3,
    replay_every: int = 7,
) -> list[ZipSpec]:
    """``n_zips`` zips, deterministic in ``seed``. Zip ``i`` belongs to
    drift group ``i // zips_per_epoch``; every ``malformed_every``-th zip
    carries one malformed member and every ``replay_every``-th zip (after
    the first group) is a copy of an earlier zip."""
    rng = np.random.default_rng(seed)
    pool = max(persons_per_zip, int(n_zips * persons_per_zip * 0.6))
    specs: list[ZipSpec] = []
    for i in range(n_zips):
        name = f"ejp-{seed}-{i:05d}.zip"
        if i >= zips_per_epoch and i % replay_every == replay_every - 1:
            src_i = i - 1 - int(rng.integers(0, zips_per_epoch))
            src = specs[src_i]
            specs.append(
                ZipSpec(
                    name, src.data, src.person_v2, src.person, src.manuscript,
                    src.manuscript_version, src.drift_columns, src.entities,
                    src.malformed, replay_of=src_i,
                )
            )
            continue
        drift = min(len(DRIFT_FIELDS), i // zips_per_epoch)
        spec = ZipSpec(name, b"", drift_columns={c for c, _ in DRIFT_FIELDS[:drift]})
        ids = sorted(set(rng.integers(0, pool, persons_per_zip).tolist()))
        members = [("persons.xml", _persons_doc(ids, drift, i))]
        spec.person_v2 = {f"person_v2:P{n:07d}" for n in ids}
        for k in range(manuscripts_per_zip):
            ms_no = 10_000 + int(rng.integers(0, n_zips * manuscripts_per_zip))
            n_versions = 1 + int(rng.integers(0, 2))
            authors = sorted(set(rng.integers(0, pool, 3).tolist()))
            members.append((f"ms-{k}.xml", _manuscript_doc(ms_no, n_versions, authors)))
            spec.person |= {f"person:A{a:07d}" for a in authors}
            spec.manuscript.add(f"manuscript:{ms_no:06d}")
            spec.manuscript_version |= {
                f"manuscript_version:{ms_no:06d}/2021-0{1 + v}-01T05:00:00Z"
                for v in range(n_versions)
            }
            spec.entities += len(authors) + 1 + n_versions
        spec.entities += len(ids)
        if malformed_every and i % malformed_every == 0:
            members.append(("bad.xml", _MALFORMED))
            spec.malformed = 1
        listed = "".join(f"<file_nm>{n}</file_nm>" for n, _ in members)
        go = f'<go create_date="2021-03-01 00:{i % 60:02d}:00">{listed}</go>'.encode()
        spec.data = _zip_bytes([("go.xml", go)] + members)
        specs.append(spec)
    return specs
