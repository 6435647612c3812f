"""Seeded generator of yearly inspector-roster HTML files plus their
ground-truth warehouse counts.

The generator builds a logical roster (okrugs -> gubernias -> uchastok
rows, a pool of inspectors whose careers move between gubernias across
years), renders it in the three layout generations of the historical
corpus, and counts what a correct warehouse build must contain.  The
counts come from the logical model, never from the engine's parser.

Layouts:
  * 1901 -- 4 columns (gubernia-in-cell0, description, location,
    personnel); okrug/gubernia headings are ``section-header`` rows.
  * 1902..1912 -- 6 columns (description, establishments, workers,
    boilers, location, personnel); ``okrug-header`` / ``gubernia-header``
    rows.
  * 1913 -- the 6-column layout with dot-leader ``<span>`` pollution.

Reader semantics the counts follow (they are the documented contract of
the roster reader and warehouse build):
  * 1901 ``section-header`` headings set neither okrug nor gubernia
    (their standardized text no longer holds the pre-reform spelling the
    classifier looks for), so every 1901 location is keyed
    (city, "неизвестно", "неизвестно") and the ditto epoch never resets;
  * heading rows do not consume rowspan counters, so a personnel
    ``rowspan="3"`` that spans a gubernia heading also covers the second
    data row after it (that row's own personnel cell is ignored);
  * a data row whose location cannot be resolved is quarantined as a
    ``location_unresolvable`` reject (the column-number row that opens
    every file);
  * personnel ``»`` repeats the last named, non-vacancy assignment of
    the same heading epoch;
  * a senior-inspector marker cell becomes one assignment carried by the
    gubernia's senior inspector (or none, if the gubernia has none yet).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

YEARS = [1901, 1902, 1903, 1904, 1905, 1906, 1907, 1908, 1909, 1910, 1913]

_RANKS = ["Н. С.", "К. С.", "Т. С.", "К. А.", "Г. С.", "С. С.", "Д. С. С."]
_PROFS = ["Инж.-тех.", "Техн.", "Инж.-мех.", "Горн. инж.", "Инж.-хим.", ""]
_EDUS = ["", "", "", "Канд. унив.", "Дѣйст. студ."]
# initials avoid letters that open rank keys ("к. с.", "т. с.", ...) and
# the acting marker "и. д."
_INITIALS = "ВПЛМБФРШЮ"
_SYL1 = ["Вол", "Гар", "Мин", "Фолк", "Дер", "Мас", "Кур", "Лав", "Пет", "Сок",
         "Бел", "Чер", "Жук", "Зай", "Ром", "Тар", "Юр", "Шиш", "Бор", "Вар",
         "Гол", "Мор", "Лип", "Руд", "Сав"]
_SYL2 = ["ов", "ин", "ен", "ан", "ск", "ич", "уш", "ат", "ер", "от", "ул", "ял"]
_SYL3 = ["ковъ", "инъ", "скій", "евъ", "манъ", "ецъ", "ѣевъ", "ичъ", "енко", "ухинъ"]
_CITY0 = ["", "", "Ново", "Старо", "Верхне", "Нижне", "Велико", "Мало"]
_CITY1 = ["Бор", "Вер", "Гор", "Дуб", "Жел", "Зар", "Кам", "Лес", "Мох", "Нов",
          "Озер", "Пес", "Рож", "Сосн", "Топ", "Хол", "Чер", "Ябл"]
_CITY2 = ["ово", "ино", "ецк", "ск", "град", "поль", "горск", "ищи"]
_MONTHS = ["янв.", "февр.", "марта", "апр.", "мая", "іюня", "іюля", "авг.", "сент.", "окт.", "нояб.", "дек."]
_SENIOR = "Старшій фабричный инспекторъ"
_DOTS = '<span class="dotted-line">.........</span>'
_FOOTNOTE = "1) Надзоръ за паровыми котлами въ губерніи возложенъ на окружного инспектора."


@dataclass(frozen=True)
class Person:
    key: int
    rank: str
    prof: str
    edu: str
    initials: str
    surname: str

    def text(self) -> str:
        parts = [self.rank, self.prof, self.edu, self.initials, self.surname]
        return " ".join(p for p in parts if p)


@dataclass
class Assignment:
    person: int | None  # inspector key, None for vacancies
    vacancy: bool = False
    special: bool = False  # senior-inspector marker


@dataclass
class Cell:
    """A personnel cell: its HTML and the assignments it parses to."""

    html: str
    assignments: list[Assignment]


@dataclass
class Truth:
    assignments: int = 0
    vacancies: int = 0
    rejects: int = 0
    workers_sum: int = 0
    inspectors: set = field(default_factory=set)
    locations: set = field(default_factory=set)

    def as_dict(self) -> dict:
        return {
            "assignments": self.assignments,
            "inspectors": len(self.inspectors),
            "locations": len(self.locations),
            "vacancies": self.vacancies,
            "rejects": self.rejects,
            "workers_sum": self.workers_sum,
        }


def _people(rng: random.Random, n: int) -> list[Person]:
    out: list[Person] = []
    seen: set[str] = set()
    while len(out) < n:
        mid = rng.choice(_SYL2) * rng.randint(1, 2)
        surname = rng.choice(_SYL1) + mid + rng.choice(_SYL3)
        # identity after pre-reform normalization (ѣ->е, і->и, final ъ)
        norm = surname.lower().replace("ѣ", "е").replace("і", "и").rstrip("ъ")
        if norm in seen:
            continue
        seen.add(norm)
        a, b = rng.sample(_INITIALS, 2)
        out.append(Person(len(out), rng.choice(_RANKS), rng.choice(_PROFS),
                          rng.choice(_EDUS), f"{a}. {b}.", surname))
    return out


def _cities(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        c = rng.choice(_CITY0) + rng.choice(_CITY1).lower() + rng.choice(_CITY2)
        if c in taken:  # a numbered posad keeps names unique at any scale
            c = f"{c}-{len(taken)}"
        taken.add(c)
        out.append(c[0].upper() + c[1:])
    return out


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1, 28)} {rng.choice(_MONTHS)}"


def _personnel(rng: random.Random, p: Person, other: Person) -> Cell:
    """One personnel cell drawn from the FIXTURES.md B4 shapes."""
    r = rng.random()
    named = Assignment(p.key)
    if r < 0.52:
        return Cell(f"{p.text()}.", [named])
    if r < 0.60:
        return Cell(f"И. д. {p.text()}.", [named])
    if r < 0.67:
        d = _date(rng)
        return Cell(f"До {d} вакансія.<br>съ {d} {p.text()}.", [Assignment(None, vacancy=True), named])
    if r < 0.73:
        return Cell(f"{p.text()} (†).<br>съ {_date(rng)} вакансія.", [named, Assignment(None, vacancy=True)])
    if r < 0.79:
        d1, d2 = f"{rng.randint(1, 14)} іюля", f"{rng.randint(1, 28)} сент."
        return Cell(
            f"До {d1} {p.text()};<br>съ {d1} по {d2} вакансія; <br>съ {d2} {other.text()}.",
            [named, Assignment(None, vacancy=True), Assignment(other.key)],
        )
    if r < 0.85:
        return Cell("Вакансія.", [Assignment(None, vacancy=True)])
    if r < 0.90:
        return Cell("(Нет данных)", [])
    if r < 0.93:
        return Cell("—", [])
    return Cell("»", [])  # ditto: resolved against the epoch's last qualifying assignment


def _stat(rng: random.Random) -> tuple[str, int | None]:
    r = rng.random()
    if r < 0.1:
        return "—", None
    if r < 0.3:
        v = rng.randint(1000, 9999)
        return f"{v // 1000}.{v % 1000:03d}", v
    v = rng.randint(1, 999)
    return str(v), v


class _Table:
    """Renders rows of one file and applies the reader's row semantics
    to the logical model as it goes."""

    def __init__(self, year: int, truth: Truth):
        self.g1 = year == 1901
        self.dots = year == 1913
        self.ncols = 4 if self.g1 else 6
        self.truth = truth
        self.html: list[str] = []
        self.okrug: str | None = None
        self.gub: str | None = None
        self.city: str | None = None
        self.last_qual: int | None = None

    def heading(self, kind: str, text: str) -> None:
        cls = "section-header" if self.g1 else f"{kind}-header"
        self.html.append(f'<tr class="{cls}"><td colspan="{self.ncols}">{text}</td></tr>')
        if self.g1:
            return
        if kind == "okrug":
            self.okrug, self.gub = text, None
        else:
            self.gub = text
        self.last_qual = None  # new ditto epoch

    def row(self, *, cell0: str, desc: str, loc: str | None, pers: Cell | None,
            stats: list[tuple[str, int | None]], effective: Cell | None = None,
            pers_rowspan: int = 0, loc_rowspan: int = 0, senior_row: bool = False) -> None:
        """Render one data row.  ``loc``/``pers`` None = cell covered by a
        rowspan from above; ``effective`` = the personnel the reader will
        actually see (defaults to ``pers``)."""
        dots = self.dots and not senior_row
        tds: list[str] = []
        if self.g1:
            tds.append(f"<td>{cell0}</td>")
        tds.append(f"<td>{desc}{_DOTS if dots else ''}</td>")
        if not self.g1:
            tds.extend(f"<td>{s}</td>" for s, _ in stats)
        if loc is not None:
            span = f' rowspan="{loc_rowspan}"' if loc_rowspan else ""
            leader = _DOTS if dots and loc not in ("»", "") else ""
            tds.append(f"<td{span}>{loc}{leader}</td>")
            if loc not in ("»", ""):
                self.city = loc
        if pers is not None:
            span = f' rowspan="{pers_rowspan}"' if pers_rowspan else ""
            tds.append(f"<td{span}>{pers.html}</td>")
        self.html.append("<tr>" + "".join(tds) + "</tr>")

        t = self.truth
        eff = effective if effective is not None else pers
        if self.city is None:
            t.rejects += 1
            return
        if eff.html == "»":
            items = [Assignment(self.last_qual)] if self.last_qual is not None else []
        else:
            items = eff.assignments
            quals = [a.person for a in items if a.person is not None and not a.vacancy and not a.special]
            if quals:
                self.last_qual = quals[-1]
        area = (self.okrug, self.gub)
        workers = stats[1][1] if not self.g1 else None
        for a in items:
            t.assignments += 1
            t.locations.add((self.city, area))
            if workers is not None:
                t.workers_sum += workers
            if a.vacancy:
                t.vacancies += 1
            elif a.person is not None:
                # a senior marker (special) adds no inspector of its own:
                # it carries the gubernia's senior, who is counted already
                t.inspectors.add(a.person)


def _render_file(year: int, geo: list, slots: dict, people: list[Person],
                 rng: random.Random, truth: Truth) -> str:
    tab = _Table(year, truth)
    ncols = tab.ncols
    titles = (["Губернія", "Участокъ", "Мѣстопребываніе", "Личный составъ"] if tab.g1 else
              ["Участокъ", "Заведеній", "Рабочихъ", "Котловъ", "Мѣстопребываніе", "Личный составъ"])
    tab.html.append("<tr>" + "".join(f"<th>{t}</th>" for t in titles) + "</tr>")
    # column-number row: no location yet -> one location_unresolvable reject
    nums = [str(i + 1) for i in range(ncols)]
    nums[2 if tab.g1 else 4] = ""
    tab.html.append("<tr>" + "".join(f"<td>{n}</td>" for n in nums) + "</tr>")
    truth.rejects += 1

    pending_bleed: Cell | None = None
    for okrug, gubs in geo:
        tab.heading("okrug", okrug)
        for gi, (gub, cities, n_rows) in enumerate(gubs):
            tab.heading("gubernia", gub)
            has_senior = rng.random() < 0.4
            i = 0
            while i < n_rows:
                desc = f"{i + 1}-й участокъ"
                if i > 0 and rng.random() < 0.08:
                    desc = f"{i + 1}-й {'»' if rng.random() < 0.5 else '&quot;'}"
                senior_row = has_senior and i == 0
                if senior_row:
                    desc = _SENIOR
                person = people[slots[(gub, i)]]
                other = people[rng.randrange(len(people))]
                cell = Cell(f"{person.text()}.", [Assignment(person.key)]) if senior_row \
                    else _personnel(rng, person, other)
                if not senior_row and rng.random() < 0.05:
                    cell = Cell(f"{_SENIOR}.", [Assignment(None, special=True)])
                loc = rng.choice(cities) if i == 0 or rng.random() < 0.6 else "»"
                stats = [_stat(rng) for _ in range(3)]
                cell0 = gub if tab.g1 and i == 0 else ""
                if pending_bleed is not None:
                    # rows 1 and 2 after the heading both take the bled cell
                    eff = pending_bleed
                    tab.row(cell0=cell0, desc=desc, loc=rng.choice(cities), pers=None,
                            stats=stats, effective=eff, senior_row=senior_row)
                    i += 1
                    if i < n_rows:
                        person = people[slots[(gub, i)]]
                        own = Cell(f"{person.text()}.", [Assignment(person.key)])
                        tab.row(cell0="", desc=f"{i + 1}-й участокъ", loc="»", pers=own,
                                stats=[_stat(rng) for _ in range(3)], effective=eff)
                        i += 1
                    pending_bleed = None
                    continue
                last_in_block = i == n_rows - 1
                next_block = gi + 1 < len(gubs) and gubs[gi + 1][2] >= 2
                r = rng.random()
                if last_in_block and next_block and cell.html != "»" and r < 0.5:
                    tab.row(cell0=cell0, desc=desc, loc=loc, pers=cell, stats=stats,
                            pers_rowspan=3, senior_row=senior_row)
                    pending_bleed = cell
                    i += 1
                    continue
                if not last_in_block and cell.html != "»" and r < 0.12:
                    tab.row(cell0=cell0, desc=desc, loc=loc, pers=cell, stats=stats,
                            pers_rowspan=2, senior_row=senior_row)
                    tab.row(cell0="", desc=f"{i + 2}-й участокъ", loc=rng.choice(cities),
                            pers=None, stats=[_stat(rng) for _ in range(3)], effective=cell)
                    i += 2
                    continue
                if not last_in_block and loc != "»" and r < 0.2:
                    tab.row(cell0=cell0, desc=desc, loc=loc, pers=cell, stats=stats,
                            loc_rowspan=2, senior_row=senior_row)
                    person = people[slots[(gub, i + 1)]]
                    nxt = _personnel(rng, person, people[rng.randrange(len(people))])
                    tab.row(cell0="", desc=f"{i + 2}-й участокъ", loc=None, pers=nxt,
                            stats=[_stat(rng) for _ in range(3)])
                    i += 2
                    continue
                tab.row(cell0=cell0, desc=desc, loc=loc, pers=cell, stats=stats,
                        senior_row=senior_row)
                i += 1
    # footnote rows close the table (filtered as notes, never data)
    tab.html.append(f'<tr><td colspan="{ncols}">{_FOOTNOTE}</td></tr>')
    return (
        "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
        f"<title>Списокъ чиновъ фабричной инспекціи, {year} г.</title></head>\n<body>\n"
        "<table>\n<tbody>\n" + "\n".join(tab.html) + "\n</tbody>\n</table>\n</body></html>\n"
    )


def generate(out_dir: str, seed: int, scale: int = 1) -> dict:
    """Write ``fabric{YYYY}.html`` for every year in YEARS into ``out_dir``
    and return the ground-truth counts.  ``scale`` multiplies the number
    of okrugs; scale 1 is ~1.1k assignments over the 11 files."""
    rng = random.Random(seed)
    n_okrugs = 2 * scale
    taken: set[str] = set()
    geo = []
    for o in range(n_okrugs):
        gubs = []
        # a fixed row count per okrug keeps the corpus size seed-independent
        for g, n_rows in enumerate(rng.sample([4, 5, 6, 7], 4)):
            name = f"{rng.choice(_CITY1)}{rng.choice(['ская', 'инская', 'овская'])} губернія №{o + 1}.{g + 1}"
            gubs.append((name, _cities(rng, rng.randint(2, 5), taken), n_rows))
        geo.append((f"Округъ №{o + 1} фабричный", gubs))
    n_slots = sum(n for _, gubs in geo for _, _, n in gubs)
    people = _people(rng, int(n_slots * 1.6))
    slots = {}
    for _, gubs in geo:
        for gub, _, n in gubs:
            for i in range(n):
                slots[(gub, i)] = rng.randrange(len(people))
    truth = Truth()
    os.makedirs(out_dir, exist_ok=True)
    for year in YEARS:
        html = _render_file(year, geo, slots, people, rng, truth)
        with open(os.path.join(out_dir, f"fabric{year}.html"), "w", encoding="utf-8") as f:
            f.write(html)
        # careers: ~15% of uchastok slots change hands each year, often to
        # an inspector who served elsewhere (mobility across gubernias)
        for k in slots:
            if rng.random() < 0.15:
                slots[k] = rng.randrange(len(people))
    return truth.as_dict()


if __name__ == "__main__":
    import sys

    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 1)))
