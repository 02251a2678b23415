"""Deterministic, seed-driven inputs for the benchmark workloads.

Everything the engine sees is built here from the sf0.1 ``documents`` table
and the seed: plain-text files (one folder per ``source``), stdlib-only
``.pptx`` decks carrying PNG pictures, and the op schedules. The same seed
always yields byte-identical files and the same request bodies. The corpus
itself never depends on the seed, and neither do the per-type op counts, so
the cost of a run does not move with the seed; the seed only picks query
words, scopes and image bytes.
"""

from __future__ import annotations

import base64
import io
import os
import random
import struct
import zipfile
import zlib

#: documents of each ``source`` that make up the fixed read corpus
SEARCH_DOCS_PER_SOURCE = 3
#: number of pptx decks (each with pictures) added to a corpus
DECKS = 2
#: slides per deck; every slide carries one text shape and one picture
SLIDES_PER_DECK = 3
#: the search op types, in the order of the fixed interleaved cycle
SEARCH_TYPES = ("full", "scoped", "image")

#: fixed date stamp so that zip members are byte-identical across runs
_ZIP_DATE = (2020, 1, 1, 0, 0, 0)

_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_REL = "http://schemas.openxmlformats.org/package/2006/relationships"


def load_documents(sf_dir: str) -> list[tuple[int, str, str]]:
    """``(doc_id, text, source)`` rows of ``documents.parquet``, ordered by
    doc_id. Read with pyarrow so that generating inputs starts no Spark
    job."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "text", "source"],
    ).to_pydict()
    rows = zip(t["doc_id"], t["text"], t["source"])
    return sorted((int(i), str(x), str(s)) for i, x, s in rows)


def by_source(docs: list[tuple[int, str, str]]) -> dict[str, list[tuple[int, str]]]:
    """Group ``(doc_id, text)`` by source, each group ordered by doc_id."""
    out: dict[str, list[tuple[int, str]]] = {}
    for doc_id, text, source in docs:
        out.setdefault(source, []).append((doc_id, text))
    return dict(sorted(out.items()))


def vocabulary(docs: list[tuple[int, str, str]]) -> list[str]:
    """Sorted distinct words of the corpus, the pool query words come from."""
    return sorted({w for _, text, _ in docs for w in text.split()})


def png_bytes(rng: random.Random, size: int = 8) -> bytes:
    """A valid ``size``×``size`` RGB PNG whose pixels come from ``rng``."""
    raw = b"".join(
        b"\x00" + bytes(rng.randrange(256) for _ in range(size * 3))
        for _ in range(size)
    )

    def chunk(tag: bytes, data: bytes) -> bytes:
        body = tag + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    header = struct.pack(">IIBBBBB", size, size, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", header)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def _zip_write(z: zipfile.ZipFile, name: str, data: bytes | str) -> None:
    info = zipfile.ZipInfo(name, date_time=_ZIP_DATE)
    info.compress_type = zipfile.ZIP_DEFLATED
    z.writestr(info, data)


def pptx_bytes(slides: list[tuple[str, bytes]]) -> bytes:
    """A minimal deck: one slide per ``(text, png)`` pair, each with a text
    shape and a picture shape whose media part is the PNG. Only the parts
    the deck parser reads are written."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for n, (text, png) in enumerate(slides, start=1):
            slide = (
                f'<?xml version="1.0"?>\n<p:sld xmlns:a="{_A}" xmlns:p="{_P}" '
                f'xmlns:r="{_R}"><p:cSld><p:spTree>'
                f'<p:sp><p:nvSpPr><p:cNvPr id="{2 * n}" name="t"/></p:nvSpPr>'
                '<p:spPr><a:xfrm><a:off x="100" y="200"/>'
                '<a:ext cx="3000" cy="400"/></a:xfrm></p:spPr>'
                f"<p:txBody><a:p><a:r><a:t>{text}</a:t></a:r></a:p></p:txBody>"
                "</p:sp>"
                f'<p:pic><p:nvPicPr><p:cNvPr id="{2 * n + 1}" name="img"/>'
                '</p:nvPicPr><p:blipFill><a:blip r:embed="rId2"/></p:blipFill>'
                '<p:spPr><a:xfrm><a:off x="0" y="800"/>'
                '<a:ext cx="500" cy="600"/></a:xfrm></p:spPr></p:pic>'
                "</p:spTree></p:cSld></p:sld>"
            )
            rels = (
                f'<?xml version="1.0"?>\n<Relationships xmlns="{_REL}">'
                f'<Relationship Id="rId2" Type="image" '
                f'Target="../media/image{n}.png"/></Relationships>'
            )
            _zip_write(z, f"ppt/slides/slide{n}.xml", slide)
            _zip_write(z, f"ppt/slides/_rels/slide{n}.xml.rels", rels)
            _zip_write(z, f"ppt/media/image{n}.png", png)
    return buf.getvalue()


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _deck(rng: random.Random, words: list[str]) -> bytes:
    slides = []
    for _ in range(SLIDES_PER_DECK):
        text = " ".join(rng.choice(words) for _ in range(12))
        slides.append((text, png_bytes(rng)))
    return pptx_bytes(slides)


def write_search_corpus(root: str, docs: list[tuple[int, str, str]]) -> None:
    """The fixed read corpus, independent of the seed: the first
    ``SEARCH_DOCS_PER_SOURCE`` documents of every source as
    ``root/<source>/doc_<id>.txt``, and ``DECKS`` decks in ``root/decks``."""
    words = vocabulary(docs)
    rng = random.Random("search-corpus")
    for source, rows in by_source(docs).items():
        for doc_id, text in rows[:SEARCH_DOCS_PER_SOURCE]:
            _write(os.path.join(root, source, f"doc_{doc_id:05d}.txt"),
                   text.encode())
    for d in range(DECKS):
        _write(os.path.join(root, "decks", f"deck_{d}.pptx"), _deck(rng, words))


def search_schedule(
    seed: int,
    n: int,
    docs: list[tuple[int, str, str]],
    corpus_root: str,
    stream: str = "timed",
) -> list[dict]:
    """``n`` ops cycling ``full → scoped → image``; scoped ops alternate a
    file scope (a stored doc name, ``file:`` URI as the scan records it)
    and a folder scope (absolute path ending in ``/``). The seed picks the
    query words, the scope targets and the image bytes only. ``stream``
    keeps the warm-up ops apart from the timed ones, so the timed ops of a
    seed do not depend on how long the warm-up ran."""
    rng = random.Random(f"search-{stream}-{seed}")
    words = vocabulary(docs)
    groups = by_source(docs)
    sources = sorted(groups)
    ops = []
    for i in range(n):
        kind = SEARCH_TYPES[i % len(SEARCH_TYPES)]
        text = " ".join(rng.sample(words, 3))
        op: dict = {"type": kind, "query": {"text": text}}
        if kind == "scoped":
            source = rng.choice(sources)
            folder = os.path.join(corpus_root, source)
            if (i // len(SEARCH_TYPES)) % 2 == 0:
                doc_id, doc_text = rng.choice(
                    groups[source][:SEARCH_DOCS_PER_SOURCE]
                )
                # querying with words of the target file keeps its chunk
                # inside the scope's top-k
                op["query"]["text"] = " ".join(doc_text.split()[:6])
                op["scope"] = "file:" + os.path.join(folder, f"doc_{doc_id:05d}.txt")
            else:
                op["scope"] = folder + "/"
        elif kind == "image":
            op["query"]["image"] = [base64.b64encode(png_bytes(rng)).decode()]
        ops.append(op)
    return ops
