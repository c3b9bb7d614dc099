"""Seeded raw-draw corpus for the pipeline workloads, with ground truth.

A corpus is sized by its number of draws, never by prizes per draw:
the Bronze parse cost depends on prizes per draw, so every seed gets
the same spread of draw sizes and only the draw contents move.

- Every 5th draw is an EXTRAORDINARIO with 1,000-2,000 prizes; the
  rest are ORDINARIO draws with 100-999 prizes. Sizes are spread
  evenly over each range (endpoints included when a kind has two or
  more draws) and jittered by at most 2% by the seed, so the
  reference's 100-2,000 range is covered and the total prize count
  hardly moves between seeds.
- Documents are written in the `raw/year=<y>/sorteo=<n>/` layout by
  the engine's own Bronze formatter (`format_bronze_document`), so the
  corpus is exactly what the scraper would land.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path

from lottery_end_to_end_etl_data_pipeline_spark.sources.bronze import (
    format_bronze_document,
)

SELLERS = (
    "YECENIA MAZARIEGOS", "JUAN PEREZ", "MARIA LOPEZ", "PEDRO GONZALEZ",
    "ANA GARCIA", "LUIS HERNANDEZ", "CARMEN MORALES", "JOSE RAMIREZ",
)
CITIES = (
    "DE ESTA CAPITAL", "QUETZALTENANGO", "ESCUINTLA", "ANTIGUA", "FLORES",
    "PUERTO BARRIOS", "ASUNCION MITA",
)
DEPARTMENTS = (
    "GUATEMALA", "QUETZALTENANGO", "ESCUINTLA", "SACATEPEQUEZ", "PETEN",
    "IZABAL", "JUTIAPA", "SOLOLA",
)
LETRAS = ("P", "DT", "TT", "PR", "PDT", "C")
MONTOS = (500.0, 750.0, 800.0, 1250.5, 5000.0, 50000.0, 2000000.0)

ORDINARIO_PRIZES = (100, 999)
EXTRAORDINARIO_PRIZES = (1000, 2000)
FIRST_NUMERO = 2000


@dataclass(frozen=True)
class Draw:
    numero: int
    tipo: str
    year: int
    n_premios: int
    text: str

    @property
    def relpath(self) -> str:
        return f"year={self.year}/sorteo={self.numero}/sorteo_{self.numero}.txt"


def _body(rng: random.Random, n_premios: int) -> list[str]:
    rows: list[str] = []
    for _ in range(n_premios):
        rows.append(
            f"{rng.randint(1, 109964)}   {rng.choice(LETRAS)}   ........   "
            f"{rng.choice(MONTOS):,.2f}"
        )
        roll = rng.random()
        if roll < 0.55:
            rows.append("NO VENDIDO")
        elif roll < 0.9:
            seller, city = rng.choice(SELLERS), rng.choice(CITIES)
            if city == "DE ESTA CAPITAL" or rng.random() < 0.3:
                rows.append(f"VENDIDO POR {seller}, {city}")
            else:
                rows.append(f"VENDIDO POR {seller}, {city}, {rng.choice(DEPARTMENTS)}")
        # else: a prize with no attribution line
    return rows


def make_draw(rng: random.Random, numero: int, tipo: str, year: int, n_premios: int) -> Draw:
    month, day = rng.randint(1, 12), rng.randint(1, 28)
    text = format_bronze_document(
        numero_sorteo=numero,
        tipo_sorteo=tipo,
        fecha_sorteo=f"{day:02d}/{month:02d}/{year}",
        fecha_caducidad=f"{day:02d}/{month:02d}/{year + 1}",
        primer_premio=rng.randint(1, 109964),
        segundo_premio=rng.randint(1, 109964),
        tercer_premio=rng.randint(1, 109964),
        reintegros=(rng.randint(0, 9), rng.randint(0, 9), rng.randint(0, 9)),
        body_rows=_body(rng, n_premios),
    )
    return Draw(numero, tipo, year, n_premios, text)


def _spread(rng: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """`n` sizes evenly over [lo, hi], each moved by at most 2%, shuffled."""
    points = [(lo + hi) / 2] if n == 1 else [lo + (hi - lo) * k / (n - 1) for k in range(n)]
    sizes = [min(hi, max(lo, round(p * rng.uniform(0.98, 1.02)))) for p in points]
    rng.shuffle(sizes)
    return sizes


def make_corpus(seed: int, n_draws: int) -> list[Draw]:
    """`n_draws` draws over three years; every 5th is an extraordinario."""
    rng = random.Random(seed)
    kinds = ["EXTRAORDINARIO" if i % 5 == 4 else "ORDINARIO" for i in range(n_draws)]
    n_ext = kinds.count("EXTRAORDINARIO")
    sizes = {
        "ORDINARIO": iter(_spread(rng, n_draws - n_ext, *ORDINARIO_PRIZES)),
        "EXTRAORDINARIO": iter(_spread(rng, n_ext, *EXTRAORDINARIO_PRIZES)),
    }
    return [
        make_draw(rng, FIRST_NUMERO + i, kind, 2023 + 3 * i // n_draws, next(sizes[kind]))
        for i, kind in enumerate(kinds)
    ]


def increment_draw(seed: int, k: int, corpus: list[Draw]) -> Draw:
    """The k-th new weekly draw: an ordinario of fixed size (so every
    increment costs the same), numbered after the corpus, dated in the
    corpus's last year."""
    rng = random.Random(f"{seed}/increment/{k}")
    last = corpus[-1]
    return make_draw(rng, last.numero + 1 + k, "ORDINARIO", last.year, 500)


def write_draws(root: Path, draws: list[Draw]) -> None:
    for d in draws:
        p = root / d.relpath
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(d.text, encoding="utf-8")
