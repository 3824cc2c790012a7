"""Seeded input generators for the benchmark.

Everything the program reads during a run is made here from the run's
``--seed``; the same seed gives byte-identical files.  Three inputs:

``PedidosGen`` -- the cron pipeline's traffic.
    * A seeded warehouse (``dw``) of ``dw_rows`` typed rows, one per NFe
      key.  It is written straight to parquet in the schema the program
      itself produces (passed in as ``fields``), so set-up never pushes
      the seed rows through the pipeline.
    * One landing batch per tick: ``tick_rows`` order rows spread over
      ``tick_files`` CSV files whose sizes follow a log-normal mix (a few
      large files, a long tail of small ones -- the reference's one
      observed landing dir held 249 files).  Files mix utf-8, cp1252 and
      utf-8-with-BOM, all three spellings of the "Data Prev. Entrega
      Original" header, pt-BR decimals, space-grouped NFe keys and quoted
      cells holding the separator.  About 5% of rows carry ``BAD-KEY``
      (dropped by the key gate), about half update a key that already
      exists, about 3% repeat a key inside the batch, and one extra file
      per tick fails the >=10-known-headers gate.
    * Every occurrence time (``data_ultima_ocr``) is drawn without
      replacement, so for any key the newer-wins winner is never a tie.
      Some updates are older than the stored occurrence and must lose.
    * ``expected`` holds the newer-wins state the warehouse must reach.

``write_fixture_tables`` -- the registry queries' star schema (region,
    nation, customer, supplier, part, orders, lineitem), the ``events``
    stream, a ``documents`` corpus and ``embeddings``, shaped like the
    project's fixture tables at a chosen scale.

``write_documents`` -- the corpus ``curate`` cleans: random-token
    documents of 8-100 words (so the quality gate drops the short ones),
    with a planted share of exact copies and of near-duplicates (a few
    tokens swapped).  Copies always get a larger ``doc_id`` than their
    source, so the source is the one a dedup keeps.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# pedidos: the source system's CSV layout
# ---------------------------------------------------------------------------

# (staging column, raw header) in file order; the ``None`` header is the
# one whose spelling varies between files
HEADER: list[tuple[str, str | None]] = [
    ("id", "ID"), ("data_insercao", "Data Inserção"),
    ("tipo_entrega", "Tipo Entrega"), ("pedido", "Pedido"),
    ("data_nfe", "Data Nfe"), ("serie_nfe", "Serie Nfe"),
    ("numero_nfe", "Número Nfe"), ("valor_nfe", "Valor Nfe"),
    ("qtd_volumes", "Qtd. Volumes"), ("peso", "Peso"),
    ("remessa", "Remessa"), ("nome_destinatario", "Nome Destinatário"),
    ("endereco_completo", "Endereço Completo"), ("cep", "CEP"),
    ("cod_cd", "Cód. CD"), ("cd", "CD"),
    ("cnpj_cpf_transportadora", "CNPJ/CPF Transportadora"),
    ("transportador", "Transportador"), ("lead_time", "Lead Time"),
    ("data_prev_entrega", "Data Prev. Entrega"),
    ("status_prazo", "Status Prazo"), ("id_ult_ocr", "ID Últ. Ocr."),
    ("ultima_ocorrencia", "Última Ocorrência"),
    ("chave_ult_ocr", "Chave Últ. Ocr."),
    ("data_ultima_ocr", "Data Última Ocr."), ("agrupador", "Agrupador"),
    ("endereco", "Endereço"), ("numero", "Numero"), ("bairro", "Bairro"),
    ("cidades", "Cidades"), ("uf", "UF"), ("etiquetas", "Etiquetas"),
    ("chegada_transportadora", "Chegada na Transportadora"),
    ("cod_vendedor", "Cod. Vendedor"), ("chave_nfe", "Chave NFe"),
    ("qtd_itens", "Qtd. Itens"), ("data_prev_entrega_original", None),
    ("cpf_destinatario", "CPF Destinatário"),
    ("grau_risco", "Grau de Risco"), ("tipo_operacao", "Tipo de Operação"),
]
ORIGINAL_SPELLINGS = (
    "Data Prev. Entrega Original)",
    "Data Prev. Entrega (Original)",
    "Data Prev. Entrega Original",
)
# a header that shares no name with the known layout: the gate rejects it
REJECT_HEADER = ["order_id", "customer", "amount", "created_at", "state"]

ENCODINGS = ("utf-8", "cp1252", "utf-8-sig")
ENCODING_P = (0.4, 0.4, 0.2)
STATUSES = ("NO PRAZO", "ATRASADO", "ENTREGUE", "EM TRÂNSITO", "DEVOLVIDO")
OCORRENCIAS = ("Entrega realizada", "Em rota de entrega", "Coletado",
               "Destinatário ausente", "Aguardando retirada")
CIDADES = ("São Paulo", "Belém", "Florianópolis", "Goiânia", "Maceió",
           "Ribeirão Preto", "Niterói", "Uberlândia")
UFS = ("SP", "PA", "SC", "GO", "AL", " sp ", "RJ", "MG")
NOMES = ("João", "Conceição", "José", "Antônio", "Márcia", "Luís", "Inês",
         "Sebastião")
SOBRENOMES = ("Araújo", "Gonçalves", "Simões", "Magalhães", "Assunção",
              "Brandão", "Falcão", "Romão")

EPOCH = datetime(2024, 1, 1)
OCC_SPAN_S = 2 * 365 * 86400  # occurrence times: two years of seconds
BAD_KEY_SHARE = 0.05
UPDATE_SHARE = 0.5
REPEAT_SHARE = 0.03
FILE_SIZE_SIGMA = 1.0  # log-normal file-size mix


def _chave(seed: int, i: np.ndarray) -> list[str]:
    """44-digit NFe keys: a per-seed 14-digit prefix plus a 30-digit
    bijective scramble of the key index (odd multiplier, coprime to
    10**30), so keys are unique and not sorted by creation."""
    prefix = f"35{seed % 10**12:012d}"
    return [f"{prefix}{(int(k) * 2654435761) % 10**30:030d}" for k in i]


def _fmt_ts(seconds: int) -> str:
    return (EPOCH + timedelta(seconds=int(seconds))).strftime(
        "%d/%m/%Y %H:%M:%S"
    )


def _brl(cents: int) -> str:
    """pt-BR money: '1.234,56'."""
    s = f"{cents / 100:,.2f}"
    return s.replace(",", "_").replace(".", ",").replace("_", ".")


class PedidosGen:
    """Stateful generator of the pedidos_cron inputs for one seed.

    Ticks must be generated in order; each call updates ``expected`` as
    the warehouse must look once that tick has been processed."""

    def __init__(self, seed: int, dw_rows: int, tick_rows: int,
                 tick_files: int):
        self.seed = seed
        self.dw_rows = dw_rows
        self.tick_rows = tick_rows
        self.tick_files = tick_files
        self._rng = np.random.default_rng([seed, 1])
        self._used_t: set[int] = set()
        self.n_keys = 0
        # key index -> (occurrence seconds, status)
        self.expected: dict[int, tuple[int, str]] = {}

    # -- occurrence bookkeeping -------------------------------------------
    def _unique_times(self, rng: np.random.Generator, n: int) -> np.ndarray:
        out = np.empty(n, dtype=np.int64)
        filled = 0
        while filled < n:
            for t in rng.integers(0, OCC_SPAN_S, size=n - filled):
                t = int(t)
                if t not in self._used_t:
                    self._used_t.add(t)
                    out[filled] = t
                    filled += 1
        return out

    def _apply(self, keys: np.ndarray, times: np.ndarray,
               statuses: list[str]) -> None:
        for k, t, s in zip(keys.tolist(), times.tolist(), statuses):
            cur = self.expected.get(k)
            if cur is None or t > cur[0]:
                self.expected[k] = (t, s)

    # -- seeded warehouse -------------------------------------------------
    def write_dw(self, path: str, fields: list[tuple[str, str]],
                 write: bool = True) -> None:
        """Seed the key state and, with ``write``, write the seeded
        warehouse as parquet in the program's DW schema (``fields`` =
        [(name, spark simpleString type)])."""
        rng = self._rng
        n = self.dw_rows
        keys = np.arange(n, dtype=np.int64)
        self.n_keys = n
        times = self._unique_times(rng, n)
        status = [STATUSES[j] for j in rng.integers(0, len(STATUSES), n)]
        self._apply(keys, times, status)
        if not write:
            return
        ts = pa.array(
            [EPOCH + timedelta(seconds=int(t)) for t in times],
            pa.timestamp("us", tz="UTC"),
        )
        named = {
            "chave_nfe": pa.array(_chave(self.seed, keys), pa.string()),
            "data_ultima_ocr": ts,
            "data_ultima_ocr_raw": pa.array(
                [_fmt_ts(t) for t in times], pa.string()
            ),
            "status_prazo": pa.array(status, pa.string()),
        }
        cols, schema = [], []
        for name, typ in fields:
            arr = named.get(name)
            if arr is None:
                arr = _typed_filler(rng, typ, n, name)
            cols.append(arr)
            schema.append(pa.field(name, arr.type))
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.Table.from_arrays(cols, schema=pa.schema(schema)),
            os.path.join(path, "part-00000-seed.parquet"),
        )

    # -- one landing batch ------------------------------------------------
    def write_tick(self, tick: int, out_dir: str) -> dict:
        """Write tick ``tick``'s CSV files into ``out_dir``; returns the
        batch's facts (accepted rows, bytes, rejected file names)."""
        rng = np.random.default_rng([self.seed, 2, tick])
        r = self.tick_rows
        n_bad = int(round(BAD_KEY_SHARE * r))
        n_rep = int(round(REPEAT_SHARE * r))
        n_upd = int(round(UPDATE_SHARE * r))
        n_new = r - n_bad - n_rep - n_upd
        upd = rng.choice(self.n_keys, size=n_upd, replace=False)
        new = np.arange(self.n_keys, self.n_keys + n_new, dtype=np.int64)
        self.n_keys += n_new
        first = np.concatenate([upd, new])
        rep = rng.choice(first, size=n_rep, replace=False)
        keys = np.concatenate([first, rep, np.full(n_bad, -1)])
        times = self._unique_times(rng, r)
        status = [STATUSES[j] for j in rng.integers(0, len(STATUSES), r)]
        good = keys >= 0
        self._apply(keys[good], times[good],
                    [s for s, g in zip(status, good) if g])
        order = rng.permutation(r)
        rows = [self._row(rng, int(keys[i]), int(times[i]), status[i])
                for i in order]

        weights = rng.lognormal(0.0, FILE_SIZE_SIGMA, self.tick_files)
        sizes = 1 + np.floor(
            weights / weights.sum() * (r - self.tick_files)
        ).astype(int)
        sizes[: r - sizes.sum()] += 1  # hand out the rounding remainder
        os.makedirs(out_dir, exist_ok=True)
        facts = {"rows_accepted": 0, "bytes": 0, "rejected": []}
        start = 0
        for j, size in enumerate(sizes.tolist()):
            ext = ".CSV" if j % 5 == 0 else ".csv"
            name = f"pedidos_{tick:04d}_{j:04d}{ext}"
            enc = ENCODINGS[rng.choice(3, p=ENCODING_P)]
            header = [h if h is not None
                      else ORIGINAL_SPELLINGS[rng.integers(0, 3)]
                      for _, h in HEADER]
            body = rows[start:start + size]
            start += size
            facts["bytes"] += _write_csv(
                os.path.join(out_dir, name), header, body, enc
            )
            facts["rows_accepted"] += size
        name = f"pedidos_{tick:04d}_rejeitado.csv"
        bad_rows = [[str(i), "x", "1,00", "2024-01-01", "SP"]
                    for i in range(5)]
        facts["bytes"] += _write_csv(
            os.path.join(out_dir, name), REJECT_HEADER, bad_rows, "utf-8"
        )
        facts["rejected"].append(name)
        return facts

    def _row(self, rng: np.random.Generator, key: int, t: int,
             status: str) -> list[str]:
        if key < 0:
            chave = "BAD-KEY"
        else:
            chave = _chave(self.seed, [key])[0]
            if key % 10 == 3:  # printed form with separators
                chave = " ".join(chave[i:i + 4] for i in range(0, 44, 4))
        pick = rng.integers(0, 1 << 30, 8)
        nome = f"{NOMES[pick[0] % 8]} {SOBRENOMES[pick[1] % 8]}"
        cidade = CIDADES[pick[2] % 8]
        rua = f"Rua {SOBRENOMES[pick[3] % 8]}, {pick[4] % 2000}"
        endereco_completo = (
            f'"{rua}; {cidade}"' if pick[5] % 10 == 0 else f"{rua} {cidade}"
        )
        nfe_day = EPOCH + timedelta(seconds=t) - timedelta(days=int(pick[6] % 20))
        prev = nfe_day + timedelta(days=int(pick[7] % 15))
        values = {
            "id": str(pick[0] % 10**7),
            "data_insercao": _fmt_ts(t + 60),
            "tipo_entrega": "normal" if pick[1] % 3 else "expressa",
            "pedido": f"P-{pick[2] % 10**8}",
            "data_nfe": nfe_day.strftime("%d/%m/%Y"),
            "serie_nfe": str(1 + pick[3] % 3),
            "numero_nfe": str(pick[4] % 10**6),
            "valor_nfe": _brl(int(pick[5] % 5_000_000)),
            "qtd_volumes": f"{1 + pick[6] % 12}",
            "peso": f"{pick[7] % 900},{pick[0] % 1000:03d}",
            "remessa": f"R{pick[1] % 10**5}",
            "nome_destinatario": f"  {nome}  ",
            "endereco_completo": endereco_completo,
            "cep": f"{pick[2] % 100000:05d}-{pick[3] % 1000:03d}",
            "cod_cd": str(pick[4] % 50),
            "cd": f"CD {cidade}",
            "cnpj_cpf_transportadora":
                f"12.345.678/0001-{pick[5] % 100:02d}",
            "transportador": f"Transportes {SOBRENOMES[pick[6] % 8]}",
            "lead_time": str(pick[7] % 15),
            "data_prev_entrega": prev.strftime("%d/%m/%Y"),
            "status_prazo": status,
            "id_ult_ocr": str(pick[0] % 10**6),
            "ultima_ocorrencia": OCORRENCIAS[pick[1] % 5],
            "chave_ult_ocr": f"OC{pick[2] % 10**6}",
            "data_ultima_ocr": _fmt_ts(t),
            "agrupador": "",
            "endereco": rua,
            "numero": str(pick[3] % 2000),
            "bairro": "Centro",
            "cidades": cidade,
            "uf": UFS[pick[4] % 8],
            "etiquetas": "",
            "chegada_transportadora": _fmt_ts(max(t - 86400, 0)),
            "cod_vendedor": str(pick[5] % 300),
            "chave_nfe": chave,
            "qtd_itens": str(1 + pick[6] % 30),
            "data_prev_entrega_original": prev.strftime("%d-%m-%Y"),
            "cpf_destinatario":
                f"{pick[7] % 1000:03d}.{pick[0] % 1000:03d}."
                f"{pick[1] % 1000:03d}-{pick[2] % 100:02d}",
            "grau_risco": ("baixo", "médio", "alto")[pick[3] % 3],
            "tipo_operacao": "venda",
        }
        return [values[c] for c, _ in HEADER]

    # -- expected state ---------------------------------------------------
    def write_expected(self, path: str,
                       expected: dict[int, tuple[int, str]] | None = None
                       ) -> None:
        """Parquet of (chave_nfe, data_ultima_ocr, status_prazo) the
        warehouse must hold (``expected`` overrides the tracked state)."""
        expected = self.expected if expected is None else expected
        keys = np.fromiter(expected.keys(), dtype=np.int64)
        vals = list(expected.values())
        table = pa.table({
            "chave_nfe": pa.array(_chave(self.seed, keys), pa.string()),
            "data_ultima_ocr": pa.array(
                [EPOCH + timedelta(seconds=t) for t, _ in vals],
                pa.timestamp("us", tz="UTC"),
            ),
            "status_prazo": pa.array([s for _, s in vals], pa.string()),
        })
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "expected.parquet"))


def _write_csv(path: str, header: list[str], rows: list[list[str]],
               encoding: str) -> int:
    text = "\r\n".join(";".join(r) for r in [header, *rows]) + "\r\n"
    data = text.encode(encoding)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _typed_filler(rng: np.random.Generator, typ: str, n: int,
                  name: str) -> pa.Array:
    """Plausible values for a warehouse column the checks do not read."""
    if typ == "string":
        pool = pa.array([f"{name[:6]}-{v}" for v in range(1000)])
        return pool.take(pa.array(rng.integers(0, 1000, n)))
    if typ == "date":
        days = rng.integers(19000, 19800, n).astype("int32")
        return pa.array(days, pa.date32())
    if typ == "timestamp":
        return pa.array(
            (1_704_067_200 + rng.integers(0, OCC_SPAN_S, n)) * 1_000_000,
            pa.timestamp("us", tz="UTC"),
        )
    if typ == "int":
        return pa.array(rng.integers(0, 50, n).astype("int32"), pa.int32())
    if typ.startswith("decimal("):
        p, s = (int(x) for x in typ[8:-1].split(","))
        whole = rng.integers(0, 10 ** min(p - s - 1, 6), n)
        wide = pa.array(whole, pa.int64()).cast(pa.decimal128(19 + s, s))
        return wide.cast(pa.decimal128(p, s))
    raise ValueError(f"no filler for warehouse column {name}: {typ}")


# ---------------------------------------------------------------------------
# registry fixture tables
# ---------------------------------------------------------------------------

VOCAB = (
    "the a of and to in is for on with that as by from at it this be are "
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg "
    "key query scan batch shard token corpus index graph model cluster "
    "budget score label train eval cache plan stage task node"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.42, 0.15, 0.15, 0.15, 0.13)


def _ts(days_from: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _doc_text(rng: np.random.Generator, n_tok: int) -> str:
    return " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok))


def documents_table(seed: int, n: int, exact_share: float,
                    near_share: float) -> tuple[pa.Table, dict]:
    """Corpus with planted duplicates; returns (table, plant facts)."""
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    exact, near = [], []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < exact_share:
            texts.append(texts[int(rng.integers(0, i))])
            exact.append(i)
        elif i > 10 and u < exact_share + near_share:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(toks) // 25)):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
            near.append(i)
        else:
            texts.append(_doc_text(rng, int(rng.integers(8, 101))))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, {"exact_copies": exact, "near_copies": near}


def write_documents(path: str, seed: int, n: int, exact_share: float,
                    near_share: float, write: bool = True) -> dict:
    """Plant the corpus; with ``write``, write it to ``path``.  Returns
    the ids of the planted copies."""
    table, facts = documents_table(seed, n, exact_share, near_share)
    if write:
        pq.write_table(table, path)
    return facts


def write_fixture_tables(out_dir: str, seed: int, sf: float) -> None:
    """The registry's ten fixture tables at scale ``sf`` (row counts as
    the project's fixtures: 1.5M orders and 6M lineitems per unit)."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(n_ev // 66, 20)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(0, 10_000, n_cust), 2),
        "c_mktsegment": [("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
                          "HOUSEHOLD")[j] for j in rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10_000, n_supp), 2),
    })
    adj = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
    noun = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
    pk = np.arange(n_part)
    put("part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                    "PROMO")[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j]
                          for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01",
                           rng.integers(0, 2404, n_ord) * 86400),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM",
                             "4-NOT SPECIFIED", "5-LOW")[j]
                            for j in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[j]
                         for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02",
                          rng.integers(0, 2498, n_line) * 86400),
    })
    ev_s = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + (ev_s * 1e6).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [("signup", "purchase", "view", "click", "error")[j]
                       for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    })
    docs, _ = documents_table(seed, n_docs, 0.002, 0.0)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vec = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True) * 0.9).astype(
        np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

