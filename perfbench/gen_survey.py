"""Seeded survey CSV generator in the shape of FIXTURES.md A1.

Columns are positional: Email, Name, Products, then five free-text question
columns. The generator reproduces the properties the survey pipeline depends
on and checks them on what it wrote:

- Products: six skewed products, ~65 % multi-product cells (quoted, since they
  hold commas), ~3 % empty cells (the pipeline maps them to "Unspecified");
- answers: ~17 % filler variants ("", " ", "No", "Sin comentarios", "N/A", ...),
  an EN/ES mix with "but"/"pero" mixed-sentiment markers, emoji, embedded
  commas and quotes, and the em-dash (which is not filler);
- each (question, answer) key repeats ~9x, so the classification cache and the
  distinct-key classify path see the reference's memoisation ratio.

    python3 perfbench/gen_survey.py <out.csv> <responses> [seed] [questions]
"""
import csv
import random
import re
import sys

QUESTIONS = [
    "What do you think about the price?",
    "How was the delivery of your order?",
    "How would you describe the product quality?",
    "What do you think of the design and fit?",
    "Anything else you would like to tell us?",
]
PRODUCTS = [("Alpha Jacket", 224), ("Beta Sneakers", 219), ("Gamma Backpack", 208),
            ("Delta Watch", 153), ("Zeta Headphones", 111), ("Epsilon Hat", 73)]
FILLERS = ["", " ", "No", "no", "N/A", "n/a", "None", "Sin comentarios",
           "ninguno", "-", "nan", "NA"]
FILLER_SET = {"", "n/a", "na", "no", "none", "null", "nan", "sin comentarios", "ninguno", "-"}
EMOJI = ["🙂", "😕", "😍", "👍", "😡"]
EN = {
    "open": ["I think", "Honestly", "Overall", "To be fair", "In my opinion", "Well,",
             "Frankly", "I feel"],
    "topic": ["the price", "the shipping", "customer support", "the quality", "the design",
              "the fit", "the cost", "delivery", "the material", "the size", "the value",
              "the packaging"],
    "judge": ["is great", "is too expensive", "was slow", "is excellent", "is bad",
              "was fast", "is cheap", "is poor", "could be better", "is perfect",
              "is terrible", "is okay"],
    "but": ["but support was helpful", "but it broke quickly", "but shipping was late",
            "but I love the color", "but the price is high"],
}
ES = {
    "open": ["Creo que", "Sinceramente", "En general", "La verdad", "Pienso que",
             "Para mí", "Bueno,", "Me parece que"],
    "topic": ["el precio", "el envío", "el soporte", "la calidad", "el diseño", "la talla",
              "el costo", "la entrega", "el material", "el tamaño", "el valor", "el empaque"],
    "judge": ["es genial", "es muy caro", "fue lento", "es excelente", "es malo",
              "fue rápido", "es barato", "es pobre", "podría mejorar", "es perfecto",
              "es terrible", "está bien"],
    "but": ["pero el soporte ayudó", "pero se rompió pronto", "pero el envío tardó",
            "pero me encanta el color", "pero el precio es alto"],
}
FILLER_RATE = 0.17
REPEAT = 9.0


def _answer(rng: random.Random) -> str:
    lex = ES if rng.random() < 0.35 else EN
    parts = [rng.choice(lex["open"]), rng.choice(lex["topic"]), rng.choice(lex["judge"])]
    text = " ".join(parts)
    roll = rng.random()
    if roll < 0.25:
        text += ", " + rng.choice(lex["but"])
    elif roll < 0.30:
        text = 'They said "' + text + '", really'
    elif roll < 0.32:
        text = "—"
    if rng.random() < 0.2:
        text += " " + rng.choice(EMOJI)
    return text


def _pool(rng: random.Random, size: int) -> list:
    seen, out = set(), []
    while len(out) < size:
        a = _answer(rng)
        if a not in seen or len(seen) > 40_000:
            seen.add(a)
            out.append(a)
    return out


def _products(rng: random.Random) -> str:
    roll = rng.random()
    if roll < 0.03:
        return ""
    k = 1 if roll < 0.35 else rng.choice([2, 2, 3])
    names = [p for p, _ in PRODUCTS]
    weights = [w for _, w in PRODUCTS]
    picked = []
    while len(picked) < k:
        p = rng.choices(names, weights)[0]
        if p not in picked:
            picked.append(p)
    return ", ".join(picked)


def clean_key(a: str) -> str:
    """Approximation of the cleaning the pipeline applies before classifying."""
    return re.sub(r"\s+", " ", re.sub(r"[^\w\s,.'\"¿?¡!—-]", "", a)).strip()


def generate(path: str, n: int, seed: int, questions: int = len(QUESTIONS)) -> dict:
    rng = random.Random(seed)
    pool_size = max(8, round(n * (1 - FILLER_RATE) / REPEAT))
    pools = [_pool(rng, pool_size) for _ in range(questions)]
    rows = []
    for i in range(n):
        answers = [rng.choice(FILLERS) if rng.random() < FILLER_RATE else rng.choice(pools[q])
                   for q in range(questions)]
        rows.append([f"user{i}@example.com", f"Respondent {i}", _products(rng)] + answers)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(["Email", "Name", "Products"] + QUESTIONS[:questions])
        w.writerows(rows)
    return check(path)


def check(path: str) -> dict:
    """Read the CSV back and measure the A1 properties; raise if one is off."""
    with open(path, newline="", encoding="utf-8") as f:
        r = csv.reader(f)
        header = next(r)
        rows = list(r)
    nq = len(header) - 3
    answers = [a for row in rows for a in row[3:]]
    prods = [[p.strip() for p in row[2].split(",") if p.strip()] for row in rows]
    filler = sum(a.strip().lower() in FILLER_SET for a in answers)
    keys = {(q, clean_key(row[3 + q])) for row in rows for q in range(nq)
            if row[3 + q].strip().lower() not in FILLER_SET}
    non_filler = len(answers) - filler
    props = {
        "responses": len(rows),
        "questions": nq,
        "wide_rows": sum(max(1, len(p)) for p in prods),
        "multi_product_frac": round(sum(len(p) > 1 for p in prods) / len(rows), 4),
        "empty_products_frac": round(sum(len(p) == 0 for p in prods) / len(rows), 4),
        "filler_frac": round(filler / len(answers), 4),
        "emoji_frac": round(sum(any(e in a for e in EMOJI) for a in answers) / len(answers), 4),
        "es_frac": round(sum(bool(re.search(r"\b(el|la|es|pero)\b", a)) for a in answers)
                         / max(1, non_filler), 4),
        "quoted_frac": round(sum('"' in a for a in answers) / len(answers), 4),
        "key_repeat": round(non_filler / max(1, len(keys)), 2),
    }
    assert nq >= 1 and header[:3] == ["Email", "Name", "Products"], header
    assert 0.55 <= props["multi_product_frac"] <= 0.75, props
    assert 0.0 < props["empty_products_frac"] <= 0.06, props
    assert 0.14 <= props["filler_frac"] <= 0.20, props
    assert props["emoji_frac"] > 0.05 and 0.2 <= props["es_frac"] <= 0.5, props
    assert props["quoted_frac"] > 0.01, props
    if len(rows) >= 500:
        assert 7.0 <= props["key_repeat"] <= 11.0, props
    return props


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 1,
                   int(sys.argv[4]) if len(sys.argv) > 4 else len(QUESTIONS)))
