"""Seeded Olist-shaped CSV generator for the benchmark.

Every field is a pure function of (seed, row id, multiplier): each value is
drawn from `_h(seed, salt, row)`, a splitmix64 hash, never from a sequential
RNG. Rows can therefore be regenerated in isolation, and the same seed always
gives byte-identical files.

At multiplier 1 the row counts follow the public Olist release: 99,441 orders
and customers, ~112.6 k items, ~103.9 k payments, ~99 k reviews, 32,951
products, 3,095 sellers and ~1.0 M geolocation rows.

Planted edge cases (the reference pipeline's quirks):
  - products with a NULL category, and a few with NULL weight and dimensions;
  - customer / seller zip prefixes in the 20000-39999 "Northeast" band;
  - NULL and non-ASCII review titles and messages;
  - orders with two payments and orders with two reviews;
  - 'not_defined' payments, and orders with no payment at all;
  - malformed review creation dates.

Usage: python3 perfbench/olistgen.py <outDir> <seed> <multiplier>
"""
import csv
import datetime
import json
import math
import os
import shutil
import sys

MASK = (1 << 64) - 1

ORDERS_PER_MULT = 99441
PRODUCTS_PER_MULT = 32951
SELLERS_PER_MULT = 3095
GEO_PER_MULT = 1000163

CATEGORIES = [
    ("cama_mesa_banho", "bed_bath_table"), ("beleza_saude", "health_beauty"),
    ("esporte_lazer", "sports_leisure"), ("moveis_decoracao", "furniture_decor"),
    ("informatica_acessorios", "computers_accessories"),
    ("utilidades_domesticas", "housewares"), ("relogios_presentes", "watches_gifts"),
    ("telefonia", "telephony"), ("ferramentas_jardim", "garden_tools"),
    ("automotivo", "auto"), ("brinquedos", "toys"), ("cool_stuff", "cool_stuff"),
    ("perfumaria", "perfumery"), ("bebes", "baby"), ("eletronicos", "electronics"),
    ("papelaria", "stationery"),
    ("fashion_bolsas_e_acessorios", "fashion_bags_accessories"),
    ("pet_shop", "pet_shop"), ("moveis_escritorio", "office_furniture"),
    ("consoles_games", "consoles_games"),
]

# (city, state, zip band low, zip band high); the 20000-39999 band is the one
# the reference labels "Northeast" although it covers RJ/ES/MG.
CITIES = [
    ("sao paulo", "SP", 1000, 5999), ("são paulo", "SP", 1000, 5999),
    ("campinas", "SP", 13000, 13199), ("guarulhos", "SP", 7000, 7399),
    ("rio de janeiro", "RJ", 20000, 23799), ("niterói", "RJ", 24000, 24399),
    ("belo horizonte", "MG", 30000, 31999), ("vitória", "ES", 29000, 29099),
    ("salvador", "BA", 40000, 42599), ("recife", "PE", 50000, 52999),
    ("brasília", "DF", 70000, 72799), ("goiania", "GO", 74000, 74899),
    ("curitiba", "PR", 80000, 82999), ("porto alegre", "RS", 90000, 91999),
    ("florianópolis", "SC", 88000, 88099), ("manaus", "AM", 69000, 69099),
]
CITY_WEIGHTS = [30, 6, 5, 4, 14, 3, 8, 2, 4, 3, 4, 2, 5, 5, 3, 2]

STATUSES = [("delivered", 9700), ("shipped", 111), ("canceled", 63),
            ("unavailable", 61), ("invoiced", 32), ("processing", 30),
            ("created", 2), ("approved", 1)]
PAYMENT_TYPES = [("credit_card", 7390), ("boleto", 1904), ("voucher", 556),
                 ("debit_card", 150)]
SCORES = [(5, 5770), (4, 1930), (1, 1150), (3, 820), (2, 330)]

ASCII_TITLES = ["Bom produto", "Recomendo", "Excelente", "Chegou rapido",
                "Nao recebi", "Produto bom, entrega ok", "Otimo!"]
NON_ASCII_TITLES = ["Ótimo", "Não recomendo", "Perfeito ❤", "Péssimo"]
ASCII_WORDS = ["produto", "entrega", "chegou", "antes", "do", "prazo", "bom",
               "muito", "recomendo", "loja", "qualidade", "otimo", "nao",
               "recebi", "veio", "errado", "certo", "rapido"]
NON_ASCII_WORDS = ["ótimo", "não", "também", "está", "péssimo", "entregue"]

EPOCH = datetime.datetime(2016, 9, 4, 21, 15, 19)
SPAN_SECONDS = 773 * 86400  # purchases up to 2018-10-17

SALT = {name: i + 1 for i, name in enumerate([
    "order", "cust", "cust_unique", "status", "ts", "approve", "carrier",
    "deliver", "estimate", "nitems", "item_prod", "item_seller", "price",
    "freight", "npay", "ptype", "inst", "nrev", "rev_id", "score", "title",
    "msg", "msg_len", "word", "rev_day", "answer", "prod", "category",
    "prod_len", "weight", "dims", "photos", "seller", "seller_city", "zip",
    "geo", "geo_city", "lat", "lng", "city", "approve_null"])}


def _h(seed, salt, row, k=0):
    """splitmix64 of (seed, salt, row, k) -> 64-bit int."""
    z = (seed * 0x9E3779B97F4A7C15 + salt * 0xBF58476D1CE4E5B9
         + row * 0x94D049BB133111EB + k * 0x2545F4914F6CDD1D) & MASK
    z = (z + 0x9E3779B97F4A7C15) & MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
    return z ^ (z >> 31)


def _u(seed, salt, row, k=0):
    """Uniform in [0, 1)."""
    return (_h(seed, salt, row, k) >> 11) / float(1 << 53)


def _hex32(seed, salt, row):
    return "%016x%016x" % (_h(seed, salt, row, 1), _h(seed, salt, row, 2))


def _pick(weighted, u):
    total = sum(w for _, w in weighted)
    x = u * total
    for value, w in weighted:
        if x < w:
            return value
        x -= w
    return weighted[-1][0]


def _city(u):
    return _pick(list(zip(CITIES, CITY_WEIGHTS)), u)


def _ts(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


def counts(mult):
    """Entity counts at a multiplier (at least one of each)."""
    return {
        "orders": max(1, round(ORDERS_PER_MULT * mult)),
        "products": max(1, round(PRODUCTS_PER_MULT * mult)),
        "sellers": max(1, round(SELLERS_PER_MULT * mult)),
        "geolocation": max(1, round(GEO_PER_MULT * mult)),
    }


def _text(seed, salt, row, non_ascii):
    n = 3 + _h(seed, SALT["msg_len"], row) % 10
    words = []
    for k in range(n):
        pool = NON_ASCII_WORDS if (non_ascii and k == 1) else ASCII_WORDS
        words.append(pool[_h(seed, SALT["word"], row, k) % len(pool)])
    # commas inside a field exercise CSV quoting
    return " ".join(words[:2]) + ", " + " ".join(words[2:])


def generate(out_dir, seed, mult):
    """Write the nine Olist CSVs under out_dir; return per-table row counts."""
    os.makedirs(out_dir, exist_ok=True)
    c = counts(mult)
    n_orders, n_products, n_sellers = c["orders"], c["products"], c["sellers"]
    n_unique = max(1, int(n_orders * 0.966))
    rows = {}

    def writer(name, header):
        f = open(os.path.join(out_dir, name), "w", newline="", encoding="utf-8")
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        return f, w

    def none(v):
        return "" if v is None else v

    # products
    f, w = writer("olist_products_dataset.csv", [
        "product_id", "product_category_name", "product_name_lenght",
        "product_description_lenght", "product_photos_qty", "product_weight_g",
        "product_length_cm", "product_height_cm", "product_width_cm"])
    for p in range(n_products):
        null_cat = _u(seed, SALT["category"], p, 1) < 0.0185
        cat = None if null_cat else CATEGORIES[
            _h(seed, SALT["category"], p) % len(CATEGORIES)][0]
        null_dims = p % 16477 == 3
        weight = None if null_dims else int(50 + 30000 * _u(seed, SALT["weight"], p) ** 3)
        dims = [None if null_dims else 2 + _h(seed, SALT["dims"], p, k) % 100 for k in range(3)]
        w.writerow([
            _hex32(seed, SALT["prod"], p), none(cat),
            "" if null_cat else 5 + _h(seed, SALT["prod_len"], p) % 70,
            "" if null_cat else 4 + _h(seed, SALT["prod_len"], p, 1) % 3900,
            "" if null_cat else 1 + _h(seed, SALT["photos"], p) % 6,
            none(weight), none(dims[0]), none(dims[1]), none(dims[2])])
    f.close()
    rows["products"] = n_products

    # sellers
    f, w = writer("olist_sellers_dataset.csv", [
        "seller_id", "seller_zip_code_prefix", "seller_city", "seller_state"])
    for s in range(n_sellers):
        city, state, lo, hi = _city(_u(seed, SALT["seller_city"], s))
        w.writerow([_hex32(seed, SALT["seller"], s),
                    lo + _h(seed, SALT["zip"], s, 7) % (hi - lo + 1), city, state])
    f.close()
    rows["sellers"] = n_sellers

    # customers (one customer id per order, as in Olist)
    f, w = writer("olist_customers_dataset.csv", [
        "customer_id", "customer_unique_id", "customer_zip_code_prefix",
        "customer_city", "customer_state"])
    for o in range(n_orders):
        unique = o if o < n_unique else _h(seed, SALT["cust_unique"], o) % n_unique
        city, state, lo, hi = _city(_u(seed, SALT["city"], unique))
        w.writerow([_hex32(seed, SALT["cust"], o), _hex32(seed, SALT["cust_unique"], unique),
                    lo + _h(seed, SALT["zip"], unique) % (hi - lo + 1), city, state])
    f.close()
    rows["customers"] = n_orders

    fo, wo = writer("olist_orders_dataset.csv", [
        "order_id", "customer_id", "order_status", "order_purchase_timestamp",
        "order_approved_at", "order_delivered_carrier_date",
        "order_delivered_customer_date", "order_estimated_delivery_date"])
    fi, wi = writer("olist_order_items_dataset.csv", [
        "order_id", "order_item_id", "product_id", "seller_id",
        "shipping_limit_date", "price", "freight_value"])
    fp, wp = writer("olist_order_payments_dataset.csv", [
        "order_id", "payment_sequential", "payment_type",
        "payment_installments", "payment_value"])
    fr, wr = writer("olist_order_reviews_dataset.csv", [
        "review_id", "order_id", "review_score", "review_comment_title",
        "review_comment_message", "review_creation_date", "review_answer_timestamp"])
    n_items = n_pay = n_rev = 0
    for o in range(n_orders):
        oid = _hex32(seed, SALT["order"], o)
        status = _pick(STATUSES, _u(seed, SALT["status"], o))
        bought = EPOCH + datetime.timedelta(seconds=int(SPAN_SECONDS * _u(seed, SALT["ts"], o)))
        approved = None
        if status != "created" and _u(seed, SALT["approve_null"], o) > 0.0016:
            approved = bought + datetime.timedelta(seconds=int(172800 * _u(seed, SALT["approve"], o) ** 4))
        carrier = delivered = None
        if status in ("delivered", "shipped") and approved is not None:
            carrier = approved + datetime.timedelta(seconds=int(86400 * (0.5 + 5 * _u(seed, SALT["carrier"], o))))
            if status == "delivered":
                delivered = carrier + datetime.timedelta(seconds=int(86400 * (1 + 25 * _u(seed, SALT["deliver"], o) ** 2)))
        estimated = (bought + datetime.timedelta(days=10 + _h(seed, SALT["estimate"], o) % 35)).replace(
            hour=0, minute=0, second=0)
        wo.writerow([oid, _hex32(seed, SALT["cust"], o), status, _ts(bought),
                     "" if approved is None else _ts(approved),
                     "" if carrier is None else _ts(carrier),
                     "" if delivered is None else _ts(delivered), _ts(estimated)])

        # items: 1 for ~89 %, 2 for ~9 %, 3-5 otherwise; canceled orders may have none
        u = _u(seed, SALT["nitems"], o)
        k_items = 0 if (status == "unavailable" and u < 0.5) else (
            1 if u < 0.89 else 2 if u < 0.98 else 3 + _h(seed, SALT["nitems"], o, 1) % 3)
        total = 0.0
        for j in range(k_items):
            r = o * 8 + j
            prod = int(n_products * _u(seed, SALT["item_prod"], r) ** 2)
            price = round(max(0.85, -110.0 * math.log(1.0 - _u(seed, SALT["price"], r))), 2)
            freight = round(5.0 + 30.0 * _u(seed, SALT["freight"], r) ** 2, 2)
            total += price + freight
            wi.writerow([oid, j + 1, _hex32(seed, SALT["prod"], prod),
                         _hex32(seed, SALT["seller"], _h(seed, SALT["item_seller"], r) % n_sellers),
                         _ts(bought + datetime.timedelta(days=6)), "%.2f" % price, "%.2f" % freight])
        n_items += k_items

        # payments: none for a planted few, 'not_defined' for others, 2 for ~4 %
        if o % 997 != 13:
            if o % 1499 == 7:
                pays = [("not_defined", 1)]
            else:
                ptype = _pick(PAYMENT_TYPES, _u(seed, SALT["ptype"], o))
                inst = 1 + _h(seed, SALT["inst"], o) % 10 if ptype == "credit_card" else 1
                pays = [(ptype, inst)]
                if _u(seed, SALT["npay"], o) < 0.045:
                    pays.append(("voucher", 1))
            amount = round(total if total > 0 else 10.0 + 100 * _u(seed, SALT["price"], o), 2)
            for seq, (ptype, inst) in enumerate(pays):
                share = amount if len(pays) == 1 else round(amount * (0.7 if seq == 0 else 0.3), 2)
                wp.writerow([oid, seq + 1, ptype, inst, "%.2f" % share])
            n_pay += len(pays)

        # reviews: none for ~0.8 %, two for ~1 %
        u = _u(seed, SALT["nrev"], o)
        k_rev = 0 if u < 0.008 else (2 if u > 0.99 else 1)
        for j in range(k_rev):
            r = o * 4 + j
            non_ascii = _u(seed, SALT["msg"], r, 9) < 0.3
            tu = _u(seed, SALT["title"], r)
            title = None if tu < 0.6 else (
                NON_ASCII_TITLES[_h(seed, SALT["title"], r, 1) % len(NON_ASCII_TITLES)] if non_ascii
                else ASCII_TITLES[_h(seed, SALT["title"], r, 1) % len(ASCII_TITLES)])
            msg = None if _u(seed, SALT["msg"], r) < 0.4 else _text(seed, SALT["msg"], r, non_ascii)
            created = (bought + datetime.timedelta(days=3 + _h(seed, SALT["rev_day"], r) % 30)).replace(
                hour=0, minute=0, second=0)
            created_s = created.strftime("%d/%m/%Y") if r % 211 == 5 else _ts(created)
            answered = created + datetime.timedelta(seconds=int(86400 * 5 * _u(seed, SALT["answer"], r)))
            wr.writerow([_hex32(seed, SALT["rev_id"], r), oid,
                         _pick(SCORES, _u(seed, SALT["score"], r)), none(title), none(msg),
                         created_s, _ts(answered)])
        n_rev += k_rev
    for f in (fo, fi, fp, fr):
        f.close()
    rows.update(orders=n_orders, order_items=n_items, order_payments=n_pay,
                order_reviews=n_rev)

    f, w = writer("olist_geolocation_dataset.csv", [
        "geolocation_zip_code_prefix", "geolocation_lat", "geolocation_lng",
        "geolocation_city", "geolocation_state"])
    for g in range(c["geolocation"]):
        city, state, lo, hi = _city(_u(seed, SALT["geo_city"], g))
        w.writerow([lo + _h(seed, SALT["geo"], g) % (hi - lo + 1),
                    repr(-33.0 + 30.0 * _u(seed, SALT["lat"], g)),
                    repr(-73.0 + 38.0 * _u(seed, SALT["lng"], g)), city, state])
    f.close()
    rows["geolocation"] = c["geolocation"]

    f, w = writer("product_category_name_translation.csv", [
        "product_category_name", "product_category_name_english"])
    for pt, en in CATEGORIES:
        w.writerow([pt, en])
    f.close()
    rows["product_category_name_translation"] = len(CATEGORIES)
    return rows


def ensure(cache_root, seed, mult):
    """Generate the inputs for (seed, mult) once; return (dir, manifest)."""
    d = os.path.join(cache_root, "olist_s%d_m%s" % (seed, mult))
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        tmp = d + ".tmp%d" % os.getpid()
        rows = generate(tmp, seed, mult)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"seed": seed, "multiplier": mult, "rows": rows}, f, sort_keys=True)
        if os.path.exists(d):
            shutil.rmtree(d)
        os.rename(tmp, d)
    with open(manifest) as f:
        return d, json.load(f)


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))))
