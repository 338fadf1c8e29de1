"""Seeded CPC raw-zone generator for the ``cpc_refresh`` workload.

Writes the four bulk archives of two monthly versions (``CPCTitleList``,
``CPCSymbolList``, ``CPCValidityFile``, ``CPCSchemeXML``) and returns the
ground truth the written output is checked against.  The same seed gives
byte-identical archives; another seed gives other symbols and titles.

Planted defects (counts drawn from the seed, recorded in ``RawZone.planted``):

* ``blank_lines`` / ``space_lines`` -- empty and whitespace-only title lines,
  dropped by the parser;
* ``junk_lines`` -- lower-case prose lines no title pattern matches, dropped;
* ``numeric_lines`` -- ``123 garbage`` lines in a non-``cpc-section-`` member
  of the title archive, skipped by the member filter;
* ``duplicate_validity`` -- a second open validity row for a listed symbol
  (the later row wins; both say ACTIVE, so the symbol stays valid);
* ``expired_validity`` -- closed validity rows for retired symbols that have
  no title;
* ``orphan_symbols`` -- leaf subgroups left out of the scheme XML, so they
  reach the output without a hierarchy parent;
* ``stale_scheme_nodes`` -- scheme nodes for retired symbols with no title;
* ``malformed_members`` -- one scheme member that is not well-formed XML.

``jobs.scheduled_run`` runs the pipeline with its strict gate, which refuses
a version holding any symbol that fails the format, list-membership or
ACTIVE-status rule (``plans.cpc_pipeline.invalid_symbols``).  Defects of
those three kinds would make every tick raise, so they are not planted in
the pending version.  A digit-only symbol such as ``123 garbage`` would be
kept by the parser as symbol ``123`` (``tests/test_parsing.py``) and then
fail that gate; here such lines sit in a member the title reader skips.
"""

from __future__ import annotations

import io
import random
import zipfile
from dataclasses import dataclass, field
from pathlib import Path

SECTIONS = "ABCDEFGHY"
ARCHIVES = ("CPCTitleList", "CPCSymbolList", "CPCValidityFile", "CPCSchemeXML")
LETTERS = "ABCDEFGHJKLMNPQRSTUVWXZ"
WORDS = (
    "apparatus method device system control fluid signal circuit vehicle "
    "compound layer sensor optical thermal electric mechanical treatment "
    "process material structure machine engine valve pump tool medical "
    "container radio network storage data image sound power energy fuel "
    "chemical polymer metal glass textile paper building road rail ship "
    "aircraft weapon lighting heating cooling measuring testing printing"
).split()
#: fixed zip timestamp so the archives' bytes depend on the seed alone
_ZIP_TIME = (2020, 1, 1, 0, 0, 0)


@dataclass
class Symbol:
    symbol: str
    level: int | None
    title: str
    parent: str | None
    children: int = 0


@dataclass
class RawZone:
    data_dir: Path
    old_version: str
    new_version: str
    #: expected output rows of the pending version:
    #: (symbol, level, title, section, class, subclass)
    expected: list[tuple] = field(default_factory=list)
    orphans: list[str] = field(default_factory=list)
    planted: dict[str, int] = field(default_factory=dict)
    input_bytes: int = 0


def _title(rng: random.Random, upper: bool) -> str:
    words = [rng.choice(WORDS) for _ in range(rng.randint(2, 6))]
    if rng.random() < 0.2:
        words[rng.randrange(len(words))] += ";"
    text = " ".join(words).rstrip(";")
    return text.upper() if upper else text.capitalize()


def _components(sym: str) -> tuple[str | None, str | None, str | None]:
    """parsing.symbol_section/_class/_subclass for a well-formed symbol."""
    section = sym[0]
    cls = sym[:3] if len(sym) >= 3 and sym[1:3].isdigit() else None
    sub = sym[:4] if len(sym) >= 4 and sym[3].isalpha() else None
    return section, cls, sub


def _hierarchy(rng: random.Random, n_symbols: int) -> list[Symbol]:
    """Sections > classes > subclasses > main groups > subgroups, in
    title-list order, about ``n_symbols`` entries in all."""
    heads: list[Symbol] = []
    n_subclasses = 0
    for sec in SECTIONS:
        heads.append(Symbol(sec, None, _title(rng, True), None))
        for num in sorted(rng.sample(range(1, 100), rng.randint(6, 12))):
            cls = f"{sec}{num:02d}"
            heads.append(Symbol(cls, None, _title(rng, True), sec))
            for letter in sorted(rng.sample(LETTERS, rng.randint(3, 9))):
                heads.append(Symbol(cls + letter, None, _title(rng, True), cls))
                n_subclasses += 1
    per_sub = max(2, (n_symbols - len(heads)) // n_subclasses)
    out: list[Symbol] = []
    for head in heads:
        out.append(head)
        if len(head.symbol) != 4:  # only subclasses hold groups
            continue
        budget = per_sub
        main = 0
        while budget > 0:
            main += rng.randint(1, 3)
            group = Symbol(f"{head.symbol}{main}/00", 0, _title(rng, False), head.symbol)
            out.append(group)
            budget -= 1
            stack = [group]  # stack[i] = nearest item at level i
            n_sub = min(budget, rng.randint(4, 30))
            for k in range(n_sub):
                level = rng.randint(1, min(len(stack), 5))
                del stack[level:]
                node = Symbol(
                    f"{head.symbol}{main}/{2 * k + 2:02d}",
                    level,
                    _title(rng, False),
                    stack[-1].symbol,
                )
                stack[-1].children += 1
                stack.append(node)
                out.append(node)
            budget -= n_sub
    return out


def _zip(path: Path, members: list[tuple[str, str]]) -> int:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for name, text in members:
            zf.writestr(zipfile.ZipInfo(name, _ZIP_TIME), text)
    path.write_bytes(buf.getvalue())
    return len(buf.getvalue())


def _padded(sym: str) -> str:
    """CPCSymbolList pads the main group: ``A01B   1/00``."""
    if "/" not in sym:
        return sym
    head, rest = sym[:4], sym[4:]
    return f"{head}{rest.rjust(8)}"


def _write_version(
    rng: random.Random, data_dir: Path, version: str, n_symbols: int
) -> tuple[list[Symbol], list[str], dict[str, int], int]:
    syms = _hierarchy(rng, n_symbols)
    planted = {
        "blank_lines": rng.randint(40, 80),
        "space_lines": rng.randint(20, 40),
        "junk_lines": rng.randint(40, 80),
        "numeric_lines": rng.randint(20, 40),
        "duplicate_validity": rng.randint(60, 120),
        "expired_validity": rng.randint(60, 120),
        "orphan_symbols": rng.randint(60, 120),
        "stale_scheme_nodes": rng.randint(20, 40),
        "malformed_members": 1,
    }
    leaves = [s for s in syms if s.level and s.level > 0 and s.children == 0]
    orphans = set(s.symbol for s in rng.sample(leaves, planted["orphan_symbols"]))
    retired = [
        f"{s.symbol.split('/')[0]}/{900 + i}"
        for i, s in enumerate(rng.sample(leaves, planted["expired_validity"]))
    ]

    # title list: one member per section, defects scattered through them
    by_section: dict[str, list[str]] = {sec: [] for sec in SECTIONS}
    for s in syms:
        line = f"{s.symbol}\t{s.title}" if s.level is None else f"{s.symbol}\t{s.level}\t{s.title}"
        by_section[s.symbol[0]].append(line)
    for kind, make in (
        ("blank_lines", lambda: ""),
        ("space_lines", lambda: " \t "),
        ("junk_lines", lambda: "see also " + _title(rng, False).lower()),
    ):
        for _ in range(planted[kind]):
            lines = by_section[rng.choice(SECTIONS)]
            lines.insert(rng.randrange(len(lines) + 1), make())
    members = [(f"cpc-section-{sec}_{version}01.txt", "\n".join(lines) + "\n") for sec, lines in by_section.items()]
    members.append(
        ("readme.txt", "".join(f"{rng.randint(100, 999)} garbage\n" for _ in range(planted["numeric_lines"])))
    )
    size = _zip(data_dir / f"CPCTitleList{version}.zip", members)

    # symbol list CSV (>6 fields, status last); every title symbol published
    rows = ["symbol,origin,level,not_allocatable,additional_only,introduced,status"]
    rows += [f"{_padded(s.symbol)},CPC,{'' if s.level is None else s.level},false,false,2013-01-01,published" for s in syms]
    size += _zip(data_dir / f"CPCSymbolList{version}.zip", [(f"CPCSymbolList{version}.csv", "\n".join(rows) + "\n")])

    # validity TSV: one open row per title symbol, planted duplicates and
    # retired (closed) rows
    vrows = [f"{_padded(s.symbol)}\t2013-01-01\t" for s in syms]
    for s in rng.sample(syms, planted["duplicate_validity"]):
        vrows.insert(rng.randrange(len(vrows) + 1), f"{s.symbol}\t2016-01-01\t")
    vrows += [f"{sym}\t2013-01-01\t2019-12-31" for sym in retired]
    size += _zip(data_dir / f"CPCValidityFile{version}.zip", [(f"CPCValidityFile{version}.txt", "symbol\tvalid_from\tvalid_to\n" + "\n".join(vrows) + "\n")])

    # scheme XML: one member per section, nested by parent; orphans left out
    kids: dict[str | None, list[str]] = {}
    for s in syms:
        if s.symbol not in orphans:
            kids.setdefault(s.parent, []).append(s.symbol)
    stale = rng.sample(retired, planted["stale_scheme_nodes"])
    for sym in stale:
        kids.setdefault(sym.split("/")[0] + "/00", []).append(sym)

    def item(sym: str, out: list[str]) -> None:
        out.append(f"<classification-item><classification-symbol>{sym}</classification-symbol>")
        for child in kids.get(sym, ()):
            item(child, out)
        out.append("</classification-item>")

    xml_members = []
    for sec in SECTIONS:
        parts: list[str] = ['<?xml version="1.0"?><class-scheme>']
        item(sec, parts)
        parts.append("</class-scheme>")
        xml_members.append((f"scheme-{sec}.xml", "\n".join(parts)))
    xml_members.append(("scheme-broken.xml", "<class-scheme><classification-item>"))
    size += _zip(data_dir / f"CPCSchemeXML{version}.zip", xml_members)
    return syms, sorted(orphans), planted, size


def generate(data_dir: Path, seed: int, n_symbols: int) -> RawZone:
    """Write both versions into ``data_dir``; the older one is the version
    the watermark already holds, the newer one is pending."""
    data_dir.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    year = 2016 + seed % 8
    month = 1 + rng.randrange(11)
    old, new = f"{year}{month:02d}", f"{year}{month + 1:02d}"
    _write_version(rng, data_dir, old, n_symbols)
    syms, orphans, planted, size = _write_version(rng, data_dir, new, n_symbols)
    expected = [(s.symbol, s.level, s.title, *_components(s.symbol)) for s in syms]
    return RawZone(data_dir, old, new, expected, orphans, planted, size)
