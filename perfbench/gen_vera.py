"""Seeded generator of a VerA-shaped source lake (the seven Verifier
Alliance tables, distributions per FIXTURES.md).

    python3 perfbench/gen_vera.py --seed 7 --out /tmp/vera --contracts 2000

Writes ``{out}/{table}/part-0000N.parquet`` (several files per table,
several row groups per file), the layout the exporter's ``parquet:``
source reads. Same seed and size give byte-identical data.

Shape (N = ``contracts``): code 1.2N, contracts N, deployments 1.5N,
compiled_contracts 0.3N, compiled_contracts_sources ~10 per
compilation, sources 0.9N, verified_contracts N.

- bytecode lengths are zipfian over 0..24 576 B (24 576 / r, r ~ Zipf),
  ~5% NULL; bytes are drawn from a pool of opcode snippets, so they
  compress like real code rather than random bytes;
- JSON artifacts are 1-50 KB ABI/devdoc documents, written the way
  Postgres renders ``jsonb::text`` (``", "`` / ``": "`` separators), so
  canonical re-serialization really rewrites them;
- source texts are 0.2-100 KB of Solidity-like lines; ~10% of rows are
  near-duplicates of another row (comment/whitespace edits);
- chain ids skew to 1, deployers to a few factory addresses.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
    "code",
    "contracts",
    "contract_deployments",
    "compiled_contracts",
    "compiled_contracts_sources",
    "sources",
    "verified_contracts",
)

JSON_TABLES = ("compiled_contracts", "verified_contracts")

_T0 = np.datetime64("2022-01-01T00:00:00", "us")
_SPAN_US = int((np.datetime64("2025-03-01T00:00:00", "us") - _T0).astype("int64"))
_CHAINS = np.array([1, 10, 56, 137, 8453, 42161], dtype="int64")
_CHAIN_P = np.array([0.55, 0.1, 0.1, 0.1, 0.1, 0.05])
_USERS = np.array(["sourcify", "blockscout", "etherscan", "routescan"], dtype=object)
_USER_P = np.array([0.6, 0.25, 0.1, 0.05])
_VERSIONS = [
    "0.8.24+commit.e11b9ed9",
    "0.8.19+commit.7dd6d404",
    "0.8.4+commit.c7e474f2",
    "0.7.6+commit.7338295f",
    "0.6.12+commit.27d51765",
    "0.4.24+commit.e67f0147",
    "0.3.10+commit.91361694",
]
_WORDS = (
    "Token Vault Pool Router Factory Staking Governor Proxy Oracle Bridge "
    "Escrow Market Auction Registry Treasury Minter Swap Lending Farm Wallet"
).split()
_LIBS = (
    "contracts/utils/SafeMath.sol contracts/access/Ownable.sol "
    "contracts/token/ERC20/ERC20.sol contracts/token/ERC20/IERC20.sol "
    "contracts/utils/Context.sol contracts/utils/Address.sol "
    "contracts/security/ReentrancyGuard.sol contracts/proxy/Proxy.sol "
    "contracts/token/ERC721/ERC721.sol contracts/utils/Strings.sol"
).split()
_SOL_LINES = [
    "    function transfer(address to, uint256 amount) public returns (bool) {",
    "        require(balanceOf[msg.sender] >= amount, \"insufficient balance\");",
    "        balanceOf[msg.sender] -= amount;",
    "        balanceOf[to] += amount;",
    "        emit Transfer(msg.sender, to, amount);",
    "        return true;",
    "    }",
    "    mapping(address => uint256) public balanceOf;",
    "    mapping(address => mapping(address => uint256)) public allowance;",
    "    event Transfer(address indexed from, address indexed to, uint256 value);",
    "    modifier onlyOwner() { require(msg.sender == owner, \"not owner\"); _; }",
    "    uint256 public totalSupply;",
    "    address public owner;",
    "    /// @notice Returns the amount of tokens owned by `account`.",
    "    // SPDX-License-Identifier: MIT",
    "pragma solidity ^0.8.0;",
    "import \"./IERC20.sol\";",
    "contract Token is IERC20, Ownable {",
    "    constructor(string memory name_, string memory symbol_) {",
    "        _name = name_;",
    "        unchecked { _balances[account] = accountBalance - amount; }",
    "    function _beforeTokenTransfer(address from, address to, uint256 amount) internal virtual {}",
    "        for (uint256 i = 0; i < length; ++i) {",
    "            total += values[i] * weights[i] / PRECISION;",
    "        if (block.timestamp < unlockTime) revert Locked(unlockTime);",
    "    error Locked(uint256 until);",
    "}",
    "",
]
_OPCODE_SNIPPETS = 512


def _ts_pair(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    created = _T0 + rng.integers(0, _SPAN_US, n).astype("timedelta64[us]")
    delta = rng.exponential(86_400e6 * 30, n).astype("int64").astype("timedelta64[us]")
    return created, created + delta


def _audit(rng: np.random.Generator, n: int) -> dict:
    created, updated = _ts_pair(rng, n)
    by = rng.choice(_USERS, n, p=_USER_P)
    upd = rng.choice(_USERS, n, p=_USER_P)
    upd[rng.random(n) < 0.05] = None
    return {
        "created_at": pa.array(created, pa.timestamp("us")),
        "updated_at": pa.array(updated, pa.timestamp("us")),
        "created_by": pa.array(by, pa.string()),
        "updated_by": pa.array(upd, pa.string()),
    }


def _hashes(rng: np.random.Generator, n: int, width: int = 32) -> list[bytes]:
    raw = rng.bytes(n * width)
    return [raw[i * width : (i + 1) * width] for i in range(n)]


def _uuids(rng: np.random.Generator, n: int) -> list[str]:
    raw = rng.bytes(n * 16)
    return [str(uuid.UUID(bytes=raw[i * 16 : (i + 1) * 16], version=4)) for i in range(n)]


def _bytecode_corpus(rng: np.random.Generator, size: int) -> bytes:
    snippets = [
        bytes(rng.integers(0x50, 0x64, int(rng.integers(4, 40))).astype("uint8"))
        for _ in range(_OPCODE_SNIPPETS)
    ]
    picks = np.minimum(rng.zipf(1.3, size // 8), _OPCODE_SNIPPETS) - 1
    out = bytearray(b"\x60\x80\x60\x40\x52")
    for p in picks:
        out += snippets[p]
        if len(out) >= size:
            break
    return bytes(out)


def _bytecodes(rng: np.random.Generator, n: int, corpus: bytes) -> list[bytes | None]:
    lengths = 24_576 // rng.zipf(1.1, n).clip(max=10**9)
    offsets = rng.integers(0, len(corpus) - 24_577, n)
    null = rng.random(n) < 0.05
    return [
        None if null[i] else corpus[offsets[i] : offsets[i] + lengths[i]]
        for i in range(n)
    ]


def _pg_json(obj) -> str:
    """JSON text as Postgres prints ``jsonb::text``."""
    return json.dumps(obj, separators=(", ", ": "))


def _abi_entry(rng: np.random.Generator, i: int) -> dict:
    n_in = int(rng.integers(0, 4))
    return {
        "type": "function" if i % 5 else "event",
        "name": f"{_WORDS[i % len(_WORDS)].lower()}{i}",
        "inputs": [
            {"name": f"arg{k}", "type": ["uint256", "address", "bool", "bytes32"][k % 4],
             "internalType": ["uint256", "address", "bool", "bytes32"][k % 4]}
            for k in range(n_in)
        ],
        "outputs": [{"name": "", "type": "uint256", "internalType": "uint256"}] if i % 3 else [],
        "stateMutability": ["view", "nonpayable", "payable", "pure"][i % 4],
    }


def _artifacts_json(rng: np.random.Generator, target_bytes: int, abi_pool: list[dict]) -> str:
    """ABI + userdoc + devdoc document of roughly ``target_bytes``; ABI
    entries come from a shared pool, as common interfaces recur."""
    n_abi = max(4, target_bytes // 260)
    abi = [abi_pool[i] for i in rng.integers(0, len(abi_pool), n_abi)]
    doc = {
        "abi": abi,
        "userdoc": {"kind": "user", "version": 1,
                    "methods": {f"{e['name']}()": {"notice": "Returns the stored value."}
                                for e in abi[: n_abi // 4]}},
        "devdoc": {"kind": "dev", "version": 1, "methods": {}},
        "storageLayout": None,
        "flag": bool(rng.random() < 0.5),
    }
    return _pg_json(doc)


def _code_artifacts_json(rng: np.random.Generator, source_maps: str) -> str:
    start = int(rng.integers(0, len(source_maps) - 5_000))
    return _pg_json({
        "sourceMap": source_maps[start : start + int(rng.integers(200, 5_000))],
        "linkReferences": {},
        "immutableReferences": {str(int(rng.integers(100, 999))): [{"start": 512, "length": 32}]},
        "cborAuxdata": {"1": {"offset": int(rng.integers(1000, 24000)), "value": "0xa2646970667358"}},
    })


def _source_corpus(rng: np.random.Generator, size: int) -> str:
    idx = rng.integers(0, len(_SOL_LINES), size // 40)
    return "\n".join(_SOL_LINES[i] for i in idx)


def _contents(rng: np.random.Generator, n: int, corpus: str) -> list[str]:
    lengths = np.exp(rng.uniform(np.log(200), np.log(100_000), n)).astype("int64")
    lengths = np.where(rng.random(n) < 0.7, lengths // 8, lengths).clip(200, 100_000)
    offsets = rng.integers(0, len(corpus) - 100_001, n)
    out = [corpus[o : o + L] for o, L in zip(offsets, lengths)]
    # near-duplicate clusters: ~10% of rows copy an earlier row with a
    # comment / whitespace edit
    for i in np.flatnonzero(rng.random(n) < 0.10):
        if i == 0:
            continue
        base = out[int(rng.integers(0, i))]
        cut = len(base) // 2
        out[i] = base[:cut] + f"\n// revision {i}\n" + base[cut:].replace("    ", "  ", 3)
    return out


def generate(seed: int, contracts: int) -> dict[str, pa.Table]:
    """The seven tables as Arrow tables (declared column order)."""
    rng = np.random.default_rng(seed)
    n = contracts
    n_code, n_dep = int(1.2 * n), int(1.5 * n)
    n_comp, n_src = max(1, int(0.3 * n)), max(1, int(0.9 * n))

    corpus = _bytecode_corpus(rng, 1 << 20)
    code_hash = _hashes(rng, n_code)
    code = pa.table({
        "code_hash": pa.array(code_hash, pa.binary()),
        "code": pa.array(_bytecodes(rng, n_code, corpus), pa.binary()),
        "code_hash_keccak": pa.array(_hashes(rng, n_code), pa.binary()),
        **_audit(rng, n_code),
    })

    # ~40% of contracts share runtime code (zipf over code rows)
    shared = np.minimum(rng.zipf(1.5, n), n_code) - 1
    runtime_idx = np.where(rng.random(n) < 0.4, shared, rng.integers(0, n_code, n))
    contract_ids = _uuids(rng, n)
    contracts_t = pa.table({
        "id": pa.array(contract_ids, pa.string()),
        "creation_code_hash": pa.array([code_hash[i] for i in rng.integers(0, n_code, n)], pa.binary()),
        "runtime_code_hash": pa.array([code_hash[i] for i in runtime_idx], pa.binary()),
        **_audit(rng, n),
    })

    factories = _hashes(rng, 20, width=20)
    deployers = _hashes(rng, n_dep, width=20)
    hot = rng.random(n_dep) < 0.3
    hot_pick = np.minimum(rng.zipf(1.6, n_dep), 20) - 1
    chain = rng.choice(_CHAINS, n_dep, p=_CHAIN_P)
    dep_ids = _uuids(rng, n_dep)
    deployments = pa.table({
        "id": pa.array(dep_ids, pa.string()),
        "chain_id": pa.array(chain, pa.int64()),
        "address": pa.array(_hashes(rng, n_dep, width=20), pa.binary()),
        "transaction_hash": pa.array(_hashes(rng, n_dep), pa.binary()),
        "block_number": pa.array(np.sort(rng.integers(0, 20_000_000, n_dep)), pa.int64()),
        "transaction_index": pa.array(rng.integers(0, 501, n_dep), pa.int32()),
        "deployer": pa.array([factories[hot_pick[i]] if hot[i] else deployers[i] for i in range(n_dep)], pa.binary()),
        "contract_id": pa.array([contract_ids[i % n] for i in rng.permutation(n_dep)], pa.string()),
        **_audit(rng, n_dep),
    })

    comp_ids = _uuids(rng, n_comp)
    names = [f"{_WORDS[i]}{j}" for i, j in zip(rng.integers(0, len(_WORDS), n_comp), rng.integers(0, 100, n_comp))]
    vyper = rng.random(n_comp) < 0.15
    abi_pool = [_abi_entry(rng, i) for i in range(1024)]
    source_maps = ";".join(f"{a}:{b}:0:-:0" for a, b in zip(rng.integers(0, 4000, 20_000).tolist(),
                                                        rng.integers(1, 90, 20_000).tolist()))
    art_bytes = np.exp(rng.uniform(np.log(1_000), np.log(50_000), n_comp)).astype("int64")

    def nullable(values: list, p: float = 0.05) -> list:
        null = rng.random(len(values)) < p
        return [None if null[i] else v for i, v in enumerate(values)]

    compiled = pa.table({
        "id": pa.array(comp_ids, pa.string()),
        **_audit(rng, n_comp),
        "compiler": pa.array(np.where(vyper, "vyper", "solc"), pa.string()),
        "version": pa.array([_VERSIONS[i] for i in rng.integers(0, len(_VERSIONS), n_comp)], pa.string()),
        "language": pa.array(np.where(vyper, "vyper", np.where(rng.random(n_comp) < 0.05, "yul", "solidity")), pa.string()),
        "name": pa.array(names, pa.string()),
        "fully_qualified_name": pa.array([f"contracts/{x}.sol:{x}" for x in names], pa.string()),
        "compiler_settings": pa.array(nullable([
            _pg_json({"optimizer": {"enabled": bool(r % 2), "runs": int(200 * (1 + r % 5))},
                      "evmVersion": ["paris", "shanghai", "london"][r % 3],
                      "outputSelection": {"*": {"*": ["abi", "evm.bytecode"]}}})
            for r in rng.integers(0, 1000, n_comp)
        ]), pa.string()),
        "compilation_artifacts": pa.array(nullable([_artifacts_json(rng, int(b), abi_pool) for b in art_bytes]), pa.string()),
        "creation_code_hash": pa.array([code_hash[i] for i in rng.integers(0, n_code, n_comp)], pa.binary()),
        "creation_code_artifacts": pa.array(nullable([_code_artifacts_json(rng, source_maps) for _ in range(n_comp)]), pa.string()),
        "runtime_code_hash": pa.array([code_hash[i] for i in rng.integers(0, n_code, n_comp)], pa.binary()),
        "runtime_code_artifacts": pa.array(nullable([_code_artifacts_json(rng, source_maps) for _ in range(n_comp)]), pa.string()),
    })

    contents = _contents(rng, n_src, _source_corpus(rng, 1 << 21))
    sources = pa.table({
        "source_hash": pa.array([hashlib.sha256(c.encode()).digest() for c in contents], pa.binary()),
        "source_hash_keccak": pa.array([hashlib.sha3_256(c.encode()).digest() for c in contents], pa.binary()),
        "content": pa.array(contents, pa.string()),
        **_audit(rng, n_src),
    })
    src_hash = sources.column("source_hash").to_pylist()

    fan = rng.integers(1, 21, n_comp)  # mean ~10 sources per compilation
    n_ccs = int(fan.sum())
    src_pick = np.minimum(rng.zipf(1.3, n_ccs), n_src) - 1  # shared libraries
    ccs = pa.table({
        "id": pa.array(_uuids(rng, n_ccs), pa.string()),
        "compilation_id": pa.array(np.repeat(np.array(comp_ids, dtype=object), fan), pa.string()),
        "source_hash": pa.array([src_hash[i] for i in src_pick], pa.binary()),
        "path": pa.array([_LIBS[i % len(_LIBS)] if i < len(_LIBS) * 3 else f"contracts/{_WORDS[i % 20]}{i % 97}.sol" for i in src_pick], pa.string()),
    })

    def values_json(k: int) -> str:
        return _pg_json({"constructorArguments": "0x" + "00" * 12 + f"{k:040x}"})

    def transformations_json(k: int) -> str:
        return _pg_json([{"id": "0", "type": "replace", "reason": "constructorArguments", "offset": 1000 + k % 7000}])

    keys = rng.integers(0, 1 << 40, n)
    verified = pa.table({
        "id": pa.array(np.arange(1, n + 1), pa.int64()),
        **_audit(rng, n),
        "deployment_id": pa.array([dep_ids[i] for i in rng.permutation(n_dep)[:n]], pa.string()),
        "compilation_id": pa.array([comp_ids[i] for i in rng.integers(0, n_comp, n)], pa.string()),
        "creation_match": pa.array(rng.random(n) < 0.8, pa.bool_()),
        "creation_values": pa.array(nullable([values_json(int(k)) for k in keys], 0.3), pa.string()),
        "creation_transformations": pa.array(nullable([transformations_json(int(k)) for k in keys], 0.3), pa.string()),
        "runtime_match": pa.array(rng.random(n) < 0.9, pa.bool_()),
        "runtime_values": pa.array(nullable([values_json(int(k) >> 3) for k in keys], 0.5), pa.string()),
        "runtime_transformations": pa.array(nullable([transformations_json(int(k) >> 5) for k in keys], 0.5), pa.string()),
        "runtime_metadata_match": pa.array(nullable(list(rng.random(n) < 0.7), 0.2), pa.bool_()),
        "creation_metadata_match": pa.array(nullable(list(rng.random(n) < 0.7), 0.2), pa.bool_()),
    })

    return {
        "code": code,
        "contracts": contracts_t,
        "contract_deployments": deployments,
        "compiled_contracts": compiled,
        "compiled_contracts_sources": ccs,
        "sources": sources,
        "verified_contracts": verified,
    }


def write_lake(tables: dict[str, pa.Table], out_dir: str, files: int = 4) -> None:
    """Each table as ``files`` parquet parts of two row groups each."""
    for name, table in tables.items():
        tdir = os.path.join(out_dir, name)
        os.makedirs(tdir, exist_ok=True)
        per_file = -(-table.num_rows // files)
        for k in range(files):
            part = table.slice(k * per_file, per_file)
            if part.num_rows == 0:
                continue
            pq.write_table(
                part,
                os.path.join(tdir, f"part-{k:05d}.parquet"),
                row_group_size=max(1, -(-part.num_rows // 2)),
                compression="snappy",
            )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--contracts", type=int, default=2000)
    args = ap.parse_args()
    tables = generate(args.seed, args.contracts)
    write_lake(tables, args.out)
    for name, t in tables.items():
        print(f"{name}: {t.num_rows} rows, {t.nbytes / 1e6:.1f} MB in memory")


if __name__ == "__main__":
    main()
