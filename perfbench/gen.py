"""Seeded input generators for the benchmark.

Two corpora, both a pure function of the seed (same seed, byte-identical
files):

* a parquet tier built from the engine's sf0.01 test fixture, of which
  ``fixture/`` holds a verbatim copy (all ten tables). The tier stacks
  ``replicas`` copies of each table with replica-offset keys and foreign
  keys remapped to the same replica, so per-key join fan-outs stay the
  fixture's. Replica 0 is the fixture as it is; in every later replica
  the seed permutes each document's words (the token multiset is kept,
  shingle identity across replicas is not) and adds gaussian noise to
  each embedding before re-normalizing it. The seed also drives the row
  order of every table. Row counts depend only on ``replicas``.
* an envelope corpus for the ETL pipeline: JSON documents in the shape of
  the reference job (two APIs, grouped routes, ``root_path`` envelopes,
  root-level arrays, a templated route), a TOML template whose port is
  filled in once the loopback server is bound, and a manifest with each
  endpoint's expected fail-soft status and flattened rows. Document sizes
  follow a fixed log-spaced ladder; the seed only picks which endpoint
  gets which size, which endpoints are faults, and the record contents.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

#: Tables stacked per replica: primary key, and each foreign key with the
#: table whose key span it is offset by. region and nation stay as they
#: are (dimensions do not scale). Keys are 0-based and contiguous.
REPLICATED = {
    "customer": ("c_custkey", {}),
    "supplier": ("s_suppkey", {}),
    "part": ("p_partkey", {}),
    "orders": ("o_orderkey", {"o_custkey": "customer"}),
    "lineitem": (None, {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"}),
    "events": ("event_id", {"user_id": "events.user_id"}),
    "documents": ("doc_id", {}),
    "embeddings": ("vec_id", {}),
}
#: Name columns derived from the key; they follow the offset key so that
#: a name stays unique across replicas.
NAME_COLUMNS = {"customer": ("c_name", "Customer#"), "supplier": ("s_name", "Supplier#")}
#: Standard deviation of the per-component embedding noise in replicas >= 1.
EMBED_NOISE = 0.1


def _fixture() -> dict[str, pa.Table]:
    names = sorted(n[: -len(".parquet")] for n in os.listdir(FIXTURE) if n.endswith(".parquet"))
    return {n: pq.read_table(os.path.join(FIXTURE, f"{n}.parquet")) for n in names}


def _span(table: pa.Table, column: str) -> int:
    return pc.max(table[column]).as_py() + 1


def _offset(table: pa.Table, column: str, by: int) -> pa.Table:
    i = table.schema.get_field_index(column)
    col = table[column]
    return table.set_column(i, column, pc.add(col, pa.scalar(by, col.type)))


def _permuted_words(seed: int, replica: int, texts: list[str]) -> list[str]:
    """Each text's words in a seeded order; equal texts get the same order,
    so exact duplicates stay exact duplicates."""
    out = []
    for t in texts:
        h = hashlib.md5(f"{seed}|{replica}|{t}".encode()).digest()[:8]
        words = t.split(" ")
        order = np.random.default_rng(int.from_bytes(h, "little")).permutation(len(words))
        out.append(" ".join(words[i] for i in order))
    return out


def _noisy(seed: int, replica: int, embedding: pa.ChunkedArray) -> pa.Array:
    lists = embedding.combine_chunks()
    dim = len(lists[0])
    v = lists.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, dim)
    v = v + np.random.default_rng([seed, replica]).normal(0.0, EMBED_NOISE, v.shape)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    offsets = pa.array(np.arange(0, v.size + 1, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(v.astype(np.float32).ravel()), type=lists.type)


def _replica(name: str, table: pa.Table, r: int, seed: int, spans: dict[str, int]) -> pa.Table:
    pk, fks = REPLICATED[name]
    if r == 0:
        return table
    if pk is not None:
        table = _offset(table, pk, r * spans[name])
    for col, target in fks.items():
        table = _offset(table, col, r * spans[target])
    if name in NAME_COLUMNS:
        col, prefix = NAME_COLUMNS[name]
        names = [f"{prefix}{k:09d}" for k in table[pk].to_pylist()]
        table = table.set_column(table.schema.get_field_index(col), col, pa.array(names))
    if name == "documents":
        texts = _permuted_words(seed, r, table["text"].to_pylist())
        table = table.set_column(table.schema.get_field_index("text"), "text", pa.array(texts))
        n_chars = pa.array([len(t) for t in texts], type=table.schema.field("n_chars").type)
        table = table.set_column(table.schema.get_field_index("n_chars"), "n_chars", n_chars)
    if name == "embeddings":
        i = table.schema.get_field_index("embedding")
        table = table.set_column(i, "embedding", _noisy(seed, r, table["embedding"]))
    return table


def build_tier(seed: int, replicas: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; a pure function of (seed, replicas)."""
    base = _fixture()
    spans = {name: _span(base[name], pk) for name, (pk, _) in REPLICATED.items() if pk}
    spans["events.user_id"] = _span(base["events"], "user_id")
    rng = np.random.default_rng(seed)
    tier = {}
    for name, table in base.items():
        if name in REPLICATED:
            table = pa.concat_tables(_replica(name, table, r, seed, spans) for r in range(replicas))
            table = table.take(pa.array(rng.permutation(table.num_rows)))
        tier[name] = table
    return tier


def write_tier(out_dir: str, seed: int, replicas: int) -> int:
    """Write the tier as one snappy parquet file per table; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in build_tier(seed, replicas).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        row_group = max(256, min(200_000, table.num_rows // 32))
        pq.write_table(table, path, compression="snappy", row_group_size=row_group)
        total += os.path.getsize(path)
    return total


# --------------------------------------------------------------------------
# Envelope corpus
# --------------------------------------------------------------------------

#: Envelope-level pagination/metadata keys of the government APIs; the
#: pipeline drops them (operators.normalize.TECHNICAL_COLUMNS).
TECHNICAL = {
    "totalRegistros": 0,
    "totalPaginas": 1,
    "paginasRestantes": 0,
    "links": ["self", "next"],
    "dataHoraConsulta": "2024-03-01T12:00:00",
    "timeZoneAtual": "America/Sao_Paulo",
    "dataHoraAtualizacao": "2024-03-01T11:58:00",
}

#: api -> group -> root_path (None: the endpoint returns a root-level array).
LAYOUT = {
    "portal": {"contratos": "resultado", "licitacoes": "resultado", "servidores": "dados"},
    "dados_abertos": {"catalogo": None, "orgaos": None},
}

#: Fault kinds and the fail-soft status the reference gives each
#: (main.rs:79-104: templated routes skipped, download and transform
#: errors logged and skipped).
FAULTS = {
    "corrupt_json": "transform_error",
    "empty_records": "transform_error",
    "zero_byte": "download_error",
    "http_error": "download_error",
    "templated": "skipped_templated",
}

NOMES = ("ação", "licitação", "pregão", "órgão", "serviço", "município", "saúde",
         "educação", "obra", "contrato", "convênio", "empenho", "fiscal", "público")
SIGLAS = ("MEC", "MS", "MF", "MJ", "MT", "MMA", "MD", "MRE")
UFS = ("SP", "RJ", "MG", "BA", "RS", "PE", "CE", "PA", "DF", "AM")


def size_ladder(n: int, min_bytes: int, max_bytes: int) -> list[int]:
    """``n`` document sizes spread evenly in log space over [min, max]."""
    if n == 1:
        return [max_bytes]
    step = math.log(max_bytes / min_bytes) / (n - 1)
    return [int(round(min_bytes * math.exp(i * step))) for i in range(n)]


def _records(rng: np.random.Generator, first_id: int, n: int) -> list[dict]:
    """``n`` envelope records with ids ``first_id..``: scalars, a nested
    struct, an array of structs and a codepoint array."""
    words = rng.integers(0, len(NOMES), (n, 3))
    valor = np.round(rng.uniform(10, 100000, n), 2)
    ativo = rng.random(n) < 0.8
    sigla = rng.integers(0, len(SIGLAS), n)
    uf = rng.integers(0, len(UFS), n)
    codigo = rng.integers(1000, 9999, n)
    n_itens = rng.integers(1, 4, n)
    qtd = rng.integers(1, 50, (n, 3))
    out = []
    for i in range(n):
        rid = first_id + i
        nome = " ".join(NOMES[j] for j in words[i])
        desc = f"{nome} {rid}".encode()
        # A few codepoints above 255 exercise the reference's UInt8 wrap.
        wrap = rng.random(len(desc)) < 0.05
        out.append({
            "id": rid,
            "nome": nome,
            "valor": float(valor[i]),
            "ativo": bool(ativo[i]),
            "orgao": {"sigla": SIGLAS[sigla[i]], "uf": UFS[uf[i]], "codigo": int(codigo[i])},
            "itens": [{"seq": k, "qtd": int(qtd[i, k])} for k in range(int(n_itens[i]))],
            "descricao": [b + 256 if b < 128 and w else b for b, w in zip(desc, wrap)],
        })
    return out


def decode_codepoints(cps: list[int]) -> str:
    """Pure-Python twin of operators.decode: wrap to a byte, lossy UTF-8."""
    return bytes(int(x) & 0xFF for x in cps).decode("utf-8", "replace")


def expected_rows(doc) -> list[dict]:
    """Pure-Python flatten of one generated document: the records with the
    codepoint array decoded and nested structs / arrays kept as they are."""
    records = doc if isinstance(doc, list) else next(v for k, v in doc.items() if k not in TECHNICAL)
    return [dict(r, descricao=decode_codepoints(r["descricao"])) for r in records]


def _document(rng: np.random.Generator, root_path: str | None, target_bytes: int, first_id: int):
    records = _records(rng, first_id, 8)
    size = len(json.dumps(records, ensure_ascii=False).encode())
    if size < target_bytes:
        records += _records(rng, first_id + 8, int(8 * (target_bytes - size) / size))
    if root_path is None:
        return records
    return {root_path: records, **dict(TECHNICAL, totalRegistros=len(records))}


def build_envelopes(out_dir: str, seed: int, n_ok: int, min_bytes: int, max_bytes: int) -> dict:
    """Write the envelope corpus under ``out_dir``; return the manifest.

    Files: ``docs/<api>.<group>.<key>.json`` (the bodies the server
    returns), ``endpoints.toml.in`` (``@BASE@`` stands for the server
    origin) and ``manifest.json``. One endpoint of each fault kind is
    added to the ``n_ok`` good ones, at seeded positions.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out_dir, "docs"), exist_ok=True)
    groups = [(api, g, rp) for api, gs in LAYOUT.items() for g, rp in gs.items()]
    kinds = ["ok"] * n_ok + sorted(FAULTS)
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]
    sizes = iter([size_ladder(n_ok, min_bytes, max_bytes)[i] for i in rng.permutation(n_ok)])

    endpoints: list[dict] = []
    next_id = 0
    for i, kind in enumerate(kinds):
        api, group, root_path = groups[i % len(groups)]
        key = f"e{i:03d}"
        route = f"/{api}/v1/{group}/{key}" + ("/{id}" if kind == "templated" else "")
        ep = {"api": api, "group": group, "key": key, "route": route, "root_path": root_path,
              "kind": kind, "status": FAULTS.get(kind, "ok"), "http_status": 200,
              "body": None, "bytes": 0, "rows": None}
        body: bytes | None = None
        if kind in ("ok", "corrupt_json"):
            doc = _document(rng, root_path, next(sizes) if kind == "ok" else 4096, next_id)
            body = json.dumps(doc, ensure_ascii=False).encode()
            if kind == "ok":
                ep["rows"] = len(expected_rows(doc))
                next_id += ep["rows"]
            else:
                body = body[: len(body) // 2]
        elif kind == "empty_records":
            body = b"[]"
        elif kind == "zero_byte":
            body = b""
        elif kind == "http_error":
            ep["http_status"] = 503
        if body is not None:
            ep["body"] = f"docs/{api}.{group}.{key}.json"
            ep["bytes"] = len(body)
            with open(os.path.join(out_dir, ep["body"]), "wb") as f:
                f.write(body)
        endpoints.append(ep)

    lines = ["# Generated envelope job spec (api -> group -> routes)."]
    for api, gs in LAYOUT.items():
        lines += ["", f"[{api}]", f'base_url = "@BASE@/{api}"']
        for group, root_path in gs.items():
            lines += ["", f"[{api}.{group}]"]
            if root_path:
                lines.append(f'root_path = "{root_path}"')
            lines += [f'{e["key"]} = "{e["route"][len(api) + 1:]}"'
                      for e in endpoints if e["api"] == api and e["group"] == group]
    with open(os.path.join(out_dir, "endpoints.toml.in"), "w") as f:
        f.write("\n".join(lines) + "\n")
    manifest = {"seed": seed, "endpoints": endpoints,
                "input_bytes": sum(e["bytes"] for e in endpoints if e["kind"] == "ok")}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def load_document(out_dir: str, ep: dict):
    with open(os.path.join(out_dir, ep["body"]), "rb") as f:
        return json.loads(f.read())
