"""Seeded synthetic MediaWiki export-0.11 dumps for the import workloads.

The page shape follows ``tools/bench_xml.py::_page_xml`` (1-3 revisions,
a word-salad body sprinkled with wikilinks, 30% anonymous contributors,
5% redirects), with one change: titles are plain ``Article <id>`` and every
redirect and wikilink names an existing page, so redirect resolution and
the resolved link graph do real work instead of ending dangling.

The generator tallies what the importer must reproduce: pages, revisions,
redirect pages and distinct (page, link target) pairs of each page's latest
revision. The same ``(seed, size, files)`` always gives the same bytes.
"""

from __future__ import annotations

import json
import os
import random

_WORDS = (
    "spark catalyst tungsten shuffle partition parquet arrow executor task "
    "stage plan codegen broadcast window aggregate join stream watermark "
    "wikipedia article revision contributor namespace redirect template "
    "history diff edit rollback patrol sitemap category infobox citation"
).split()

_HEADER = (
    '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/" '
    'version="0.11" xml:lang="en">\n'
    "  <siteinfo>\n    <sitename>Benchwiki</sitename>\n"
    "    <dbname>benchwiki</dbname>\n  </siteinfo>\n"
)
_FOOTER = "</mediawiki>\n"


def page_xml(rng: random.Random, page_id: int, tally: dict) -> str:
    """One ``<page>`` element; adds its pages/revisions/redirects/links to
    ``tally``."""
    n_rev = rng.randint(1, 3)
    ns = 0 if rng.random() < 0.9 else 1
    redirect = ""
    if page_id > 1 and rng.random() < 0.05:
        redirect = f'<redirect title="Article {rng.randrange(1, page_id)}" />'
        tally["redirects"] += 1
    revs = []
    targets: set[int] = set()
    for r in range(n_rev):
        body = " ".join(rng.choices(_WORDS, k=rng.randint(300, 900)))
        targets = {rng.randrange(1, page_id + 1) for _ in range(rng.randint(3, 12))}
        links = " ".join(
            f"[[Article {t}" + rng.choice(["]]", "|label]]", "#History]]"])
            for t in sorted(targets)
        )
        body = f"{body} {links}"
        if rng.random() < 0.3:
            contributor = (
                f"<contributor><ip>10.0.{rng.randrange(256)}.{rng.randrange(256)}"
                "</ip></contributor>"
            )
        else:
            uid = rng.randrange(5000)
            contributor = (
                f"<contributor><username>user{uid}</username><id>{uid}</id>"
                "</contributor>"
            )
        minor = "<minor />" if rng.random() < 0.2 else ""
        ts = (
            f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
            f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"
        )
        revs.append(
            f"""    <revision>
      <id>{page_id * 10 + r}</id>
      <parentid>{page_id * 10 + r - 1}</parentid>
      <timestamp>{ts}</timestamp>
      {contributor}
      {minor}
      <comment>{rng.choice(_WORDS)} edit</comment>
      <model>wikitext</model>
      <format>text/x-wiki</format>
      <text bytes="{len(body)}" xml:space="preserve">{body}</text>
      <sha1>{rng.getrandbits(128):032x}</sha1>
    </revision>"""
        )
    tally["pages"] += 1
    tally["revisions"] += n_rev
    tally["links"] += len(targets)  # the latest revision's distinct targets
    revs_xml = "\n".join(revs)
    return f"""  <page>
    <title>Article {page_id}</title>
    <ns>{ns}</ns>
    <id>{page_id}</id>
    {redirect}
{revs_xml}
  </page>
"""


def generate_dump(out_dir: str, seed: int, total_mb: float, n_files: int) -> dict:
    """Write ``n_files`` plain XML dump files of about ``total_mb`` MB in
    all. Returns the tally plus ``files`` and ``bytes``."""
    os.makedirs(out_dir, exist_ok=True)
    per_file = total_mb * 1024 * 1024 / n_files
    tally = {"pages": 0, "revisions": 0, "redirects": 0, "links": 0}
    total_bytes = 0
    page_id = 0
    for i in range(n_files):
        rng = random.Random(f"{seed}:{i}")
        with open(os.path.join(out_dir, f"dump_{i:02d}.xml"), "w") as f:
            written = f.write(_HEADER)
            while written < per_file:
                page_id += 1
                written += f.write(page_xml(rng, page_id, tally))
            written += f.write(_FOOTER)
        total_bytes += written
    return {**tally, "files": n_files, "bytes": total_bytes}


def cached_dump(root: str, seed: int, total_mb: float, n_files: int) -> tuple[str, dict]:
    """Generate the dump under ``root`` once per ``(seed, size, files)`` and
    reuse it on later runs. Returns ``(dump_dir, tally)``."""
    key = f"dump_s{seed}_{total_mb:g}mb_{n_files}f"
    dump_dir = os.path.join(root, key)
    meta = dump_dir + ".json"
    if os.path.exists(meta):
        with open(meta) as f:
            return dump_dir, json.load(f)
    tally = generate_dump(dump_dir, seed, total_mb, n_files)
    with open(meta, "w") as f:
        json.dump(tally, f)
    return dump_dir, tally


def cached_multistream(
    root: str, seed: int, total_mb: float
) -> tuple[str, str, dict]:
    """A one-file dump repacked once into a bz2 multistream dump plus its
    index, reused across runs. Returns ``(dump_path, index_path, tally)``;
    ``tally["bytes"]`` is the uncompressed size."""
    from wikipedia_org_xmldump_importer_spark.sources.dump_multistream import (
        write_multistream,
    )

    key = f"multistream_s{seed}_{total_mb:g}mb"
    base = os.path.join(root, key)
    meta = base + ".json"
    dump_path = base + ".xml.bz2"
    index_path = base + "-index.txt.bz2"
    if os.path.exists(meta):
        with open(meta) as f:
            return dump_path, index_path, json.load(f)
    mono_dir, tally = cached_dump(root, seed, total_mb, 1)
    mono = os.path.join(mono_dir, "dump_00.xml")
    packed = write_multistream(mono, dump_path, index_path)
    tally = {**tally, "streams": packed["streams"], "bz2_bytes": os.path.getsize(dump_path)}
    with open(meta, "w") as f:
        json.dump(tally, f)
    return dump_path, index_path, tally
