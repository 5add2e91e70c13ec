"""Seeded generator for SRI-shaped vehicle-registry CSVs.

The CSV has the 20 exact headers of the SRI sample and the quirks that steer
the ETL's code paths (FIXTURES.md section 1):

* float-styled ``CANTÓN`` (``10701.0``), so the canton map never matches and
  every canton takes the ``CANTON_<code>`` fallback;
* non-unique ``(TIPO TRANSACCIÓN, TIPO SERVICIO)`` keys: each of the three
  pairs has many ``(PERSONA, CATEGORÍA)`` tuples in ``dim_transaccion``, which
  is the J3 fan-out join;
* non-unique ``CÓDIGO DE VEHÍCULO`` keys: a few codes carry two attribute
  tuples (they differ only in ``COLOR 2``), which is the J2 fan-out;
* about 18% null ``COLOR 2``, a trailing-space ``PAÍS`` and a mojibake
  ``PAÍS``;
* one near-empty row with only ``CATEGORÍA`` and ``CÓDIGO DE VEHÍCULO``.

The shape (row count per transaction pair, tuples per pair, codes, duplicated
codes, cantons) is fixed by the arguments; the seed only picks values and row
order. So the dimension cardinalities and the exact fact row count are known
from the generator's own bookkeeping (``Prediction``) and are the same for
every seed.
"""

import csv
import io
import random
from dataclasses import dataclass

HEADERS = [
    "CATEGORÍA", "CÓDIGO DE VEHÍCULO", "TIPO TRANSACCIÓN", "MARCA", "MODELO",
    "PAÍS", "AÑO MODELO", "CLASE", "SUB CLASE", "TIPO", "AVALÚO",
    "FECHA PROCESO (DD/MM/AA)", "TIPO SERVICIO", "CILINDRAJE",
    "TIPO COMBUSTIBLE", "FECHA COMPRA (DD/MM/AA)", "CANTÓN", "COLOR 1",
    "COLOR 2", "PERSONA NATURAL - JURÍDICA",
]

# (TIPO TRANSACCIÓN, TIPO SERVICIO), the number of distinct (PERSONA,
# CATEGORÍA) tuples each has in dim_transaccion (the sample's 22/86/24), and
# the share of input rows it gets.
PAIRS = [
    ("COMPRA LOCAL", "ALQ", 22, 0.15),
    ("COMPRA LOCAL", "PAR", 86, 0.75),
    ("IMPORTACIÓN DIRECTA", "PAR", 24, 0.10),
]
N_CATEGORIES = 109
N_CANTONS = 88
CODES_PER_ROW = 0.78          # sample: 882 codes over 1,131 rows
DUP_CODES_PER_1000_ROWS = 3   # codes with two attribute tuples

DIM_TIEMPO_ROWS = 2192        # one row per day of 2020-2025

MARCAS = ["HINO", "CHEVROLET", "KIA", "HYUNDAI", "TOYOTA", "NISSAN", "MAZDA",
          "SUZUKI", "FORD", "GREAT WALL", "JAC", "CHERY", "DFSK", "RENAULT",
          "VOLKSWAGEN", "MITSUBISHI", "ISUZU", "BYD", "JETOUR", "SHINERAY",
          "YAMAHA", "HONDA", "BAJAJ", "MERCEDES BENZ", "BMW", "AUDI", "PEUGEOT",
          "CITROEN", "FIAT", "JEEP", "DODGE", "RAM", "SUBARU", "VOLVO",
          "SCANIA", "MAN", "FOTON", "JMC", "CHANGAN", "GEELY", "MG", "HAVAL",
          "DONGFENG", "SINOTRUK"]
PAISES = ["CHINA POPULAR", "CHINA ", "JAPON", "COREA DEL SUR", "ECUADOR",
          "ESTADOS UNIDOS", "ESPA?A", "ALEMANIA", "BRASIL", "COLOMBIA",
          "MEXICO", "INDIA", "TAILANDIA", "FRANCIA", "ITALIA", "SUECIA",
          "ARGENTINA", "PERU", "TAIWAN", "INDONESIA"]
CLASES = ["AUTOMOVIL", "CAMIONETA", "JEEP", "CAMION", "MOTOCICLETA",
          "FURGONETA", "OMNIBUS", "TRACTO CAMION", "VOLQUETA"]
SUB_CLASES = ["SEDAN", "HATCHBACK", "DOBLE CABINA", "CABINA SIMPLE", "SUV",
              "PLATAFORMA-C", "FURGON", "PASEO", "TODO TERRENO", "CROSS",
              "SCOOTER", "TRAIL", "CAJON", "TANQUE", "VOLTEO", "BUS",
              "MINIBUS", "CABEZAL", "CHASIS", "CARGA", "PANEL", "COUPE",
              "CONVERTIBLE", "WAGON", "ESTACA", "GRUA"]
COMBUSTIBLES = ["DIESEL", "ELECTRICO", "GASOLINA", "HIBRIDO_GASOLINA_BATERIAS"]
COLORES = ["BLA", "ROJ", "NEG", "GRI", "PLO", "AZU", "VER", "ANA", "AMA",
           "CAF", "DOR"]
PERSONAS = ["NATURAL", "JURIDICA"]
# canton codes the reference's map knows; as float-styled strings they never
# match it, which is the J4 quirk
MAPPED_CANTONS = [10701, 10911, 10901, 10927, 20606, 21101, 21709, 31905]


@dataclass(frozen=True)
class Prediction:
    rows: int                # data rows in the CSV, the near-empty one included
    dim_tiempo: int
    dim_vehiculo: int
    dim_transaccion: int
    dim_ubicacion: int
    fact_rows: int


def _fmt_date(rng):
    # M/d/yyyy despite the DD/MM/AA header, as in the sample
    return f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/{rng.choice((2023, 2024))}"


def _vehicle(rng, marca_models):
    marca = rng.choice(MARCAS)
    return [
        marca,
        rng.choice(marca_models[marca]),
        rng.choice(PAISES),
        f"{float(rng.randint(2018, 2025))}",
        rng.choice(CLASES),
        rng.choice(SUB_CLASES),
        rng.choice(("PESADO", "LIVIANO")),
        f"{float(rng.choice((125, 150, 200, 1200, 1400, 1600, 2000, 2290, 2400, 2700, 3000, 4000, 5200, 7700)))}",
        rng.choice(COMBUSTIBLES),
        rng.choice(COLORES),
        None if rng.random() < 0.18 else rng.choice(COLORES),
    ]


def generate(seed, rows=3000):
    """Return (csv text, Prediction) for `rows` ordinary rows plus the
    near-empty one. Same seed and rows give byte-identical text."""
    rng = random.Random(seed)
    marca_models = {m: [f"{m[:3]}{rng.randint(100, 999)}-{s} {d} 4X2"
                        for s, d in zip(("A", "B", "C"), ("2P", "4P", "5P"))]
                    for m in MARCAS}
    categories = rng.sample(range(100000, 1000000), N_CATEGORIES)
    combos_all = [(p, c) for p in PERSONAS for c in categories]
    cantons = MAPPED_CANTONS + rng.sample(
        [c for c in range(10100, 99999) if c not in MAPPED_CANTONS],
        N_CANTONS - len(MAPPED_CANTONS))

    n_pair = [round(share * rows) for *_, share in PAIRS]
    n_pair[1] = rows - n_pair[0] - n_pair[2]
    n_dup = max(1, rows * DUP_CODES_PER_1000_ROWS // 1000)
    # duplicated codes: two rows each (one per attribute variant), placed in
    # the pairs round-robin so their rows count per pair is fixed
    dup_per_pair = [0] * len(PAIRS)
    for i in range(n_dup):
        dup_per_pair[i % len(PAIRS)] += 1
    n_single_rows = rows - 2 * n_dup
    n_single_codes = round(CODES_PER_ROW * rows) - n_dup
    assert 0 < n_single_codes <= n_single_rows

    codes = rng.sample(range(1000000, 9999999), n_single_codes + n_dup + 1)
    single_codes, dup_codes, empty_code = (
        codes[:n_single_codes], codes[n_single_codes:-1], codes[-1])
    vehicles = {c: _vehicle(rng, marca_models) for c in codes[:-1]}

    # single-tuple codes: every code used at least once, the rest reuse them
    single_assign = list(range(n_single_codes)) + [
        rng.randrange(n_single_codes) for _ in range(n_single_rows - n_single_codes)]
    rng.shuffle(single_assign)

    out_rows = []
    code_iter = iter(single_assign)
    dup_iter = iter(dup_codes)
    fact_rows = 1  # the near-empty row: no J3 match, one fact row
    canton_slots = list(range(N_CANTONS))
    for p, (tt, ts, k, _) in enumerate(PAIRS):
        combos = rng.sample(combos_all, k)
        for i in range(n_pair[p]):
            combo = combos[i] if i < k else rng.choice(combos)
            row_dup = i >= n_pair[p] - 2 * dup_per_pair[p]
            if row_dup:
                j = i - (n_pair[p] - 2 * dup_per_pair[p])
                if j % 2 == 0:
                    code = next(dup_iter)
                veh = list(vehicles[code])
                # the two variants differ only in COLOR 2
                veh[10] = None if j % 2 == 0 else veh[9]
                fact_rows += 2 * k
            else:
                code = single_codes[next(code_iter)]
                veh = vehicles[code]
                fact_rows += k
            canton = cantons[canton_slots.pop() if canton_slots else rng.randrange(N_CANTONS)]
            out_rows.append([
                combo[1], code, tt, *veh[:3], veh[3], veh[4], veh[5], veh[6],
                f"{rng.randint(94615, 37000000) / 100:.2f}", _fmt_date(rng), ts,
                veh[7], veh[8], _fmt_date(rng), f"{float(canton)}", veh[9],
                veh[10], combo[0]])
    empty = [None] * len(HEADERS)
    empty[0], empty[1] = rng.choice(categories), empty_code
    out_rows.append(empty)
    rng.shuffle(out_rows)

    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADERS)
    for r in out_rows:
        w.writerow(["" if v is None else v for v in r])
    pred = Prediction(
        rows=rows + 1,
        dim_tiempo=DIM_TIEMPO_ROWS,
        dim_vehiculo=n_single_codes + 2 * n_dup + 1,
        dim_transaccion=sum(k for _, _, k, _ in PAIRS) + 1,
        dim_ubicacion=N_CANTONS,
        fact_rows=fact_rows)
    return buf.getvalue(), pred


def write(path, seed, rows=3000):
    text, pred = generate(seed, rows)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(text)
    return pred

