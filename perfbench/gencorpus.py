#!/usr/bin/env python3
"""Seeded XML corpus for the benchmark.

Builds one <order> document (order.xsd) per `orders` row of a TPC-H style
parquet directory, with the order's `lineitem` rows nested as repeated
<lineitem> elements, and packages the documents for one workload:

  xml_worklist  one-document .xml files, plus .zip and .tar.gz archives of
                one-document members (SHAPES gives the counts)
  xml_bulk      a share of the orders, shuffled into --files
                multi-document .xml files

The seed decides which orders are picked and which file or archive each
lands in; the same arguments give byte-identical files. The output
directory holds the inputs under `in/`, `keys.parquet` (the order keys
written, for the oracle) and `manifest.json`.

`--drop-lineitem` leaves one line item out of the first document that has
any, so the converted output no longer matches its source relation: the
benchmark's oracle must then report a failure.

Usage:
  gencorpus.py --sf-dir DIR --workload xml_bulk --seed 7 --out DIR
"""
import argparse
import gzip
import io
import json
import os
import random
import shutil
import tarfile
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# corpus size per workload: the worklist's one-document files and archives,
# and the share of all orders the bulk files hold; chosen so that one
# pass takes about 4-5 s on 4 cores
SHAPES = {
    "xml_worklist": dict(plain=16, zips=2, tars=2, members=8),
    "xml_bulk": dict(fraction=0.2),
}

# zip and tar entries, and the plain files, carry this fixed time so the
# inputs (and the file info converted from them) depend on the arguments
# alone
FIXED_ZIP_TIME = (2000, 1, 1, 0, 0, 0)
FIXED_MTIME = 946684800  # 2000-01-01T00:00:00Z


def _s(arr):
    return pc.cast(arr, pa.string())


def _join(*parts):
    return pc.binary_join_element_wise(*parts, "")


def _opt(mask, elem):
    """`elem` where `mask` is false, the empty string (element omitted)
    where it is true."""
    return pc.if_else(pa.array(mask), "", elem)


def build_documents(sf_dir, keys, drop_lineitem=False):
    """Documents for `keys` (sorted int64 numpy array), in key order.

    Returns (docs, dropped): a list of XML strings aligned with `keys`,
    and the (orderkey, linenumber) left out by `drop_lineitem` or None.
    """
    key_set = pa.array(keys)
    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    orders = orders.filter(pc.is_in(orders["o_orderkey"], key_set)) \
        .sort_by("o_orderkey")
    items = pq.read_table(f"{sf_dir}/lineitem.parquet")
    items = items.filter(pc.is_in(items["l_orderkey"], key_set)) \
        .sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
    dropped = None
    if drop_lineitem and items.num_rows:
        dropped = (items["l_orderkey"][0].as_py(),
                   items["l_linenumber"][0].as_py())
        items = items.slice(1)

    flag = items["l_returnflag"]
    item_xml = _join(
        '\n  <lineitem linenumber="', _s(items["l_linenumber"]), '">',
        "<partkey>", _s(items["l_partkey"]), "</partkey>",
        "<suppkey>", _s(items["l_suppkey"]), "</suppkey>",
        "<quantity>", _s(pc.cast(items["l_quantity"], pa.int64())),
        "</quantity>",
        '<extendedprice currency="USD">', _s(items["l_extendedprice"]),
        "</extendedprice>",
        "<discount>", _s(items["l_discount"]), "</discount>",
        "<tax>", _s(items["l_tax"]), "</tax>",
        # optional: flag 'N' documents omit the element
        _opt(pc.equal(flag, "N").to_numpy(zero_copy_only=False),
             _join("<returnflag>", flag, "</returnflag>")),
        "<shipdate>", pc.strftime(items["l_shipdate"], format="%Y-%m-%d"),
        "</shipdate></lineitem>")

    okeys = orders["o_orderkey"].to_numpy()
    lkeys = items["l_orderkey"].to_numpy()
    # items are sorted by order key and hold only the selected keys, so
    # each order's items are one contiguous run
    offsets = np.append(np.searchsorted(lkeys, okeys, "left"),
                        len(lkeys)).astype(np.int32)
    per_order = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets),
                                 item_xml.combine_chunks()), "")

    pri = orders["o_orderpriority"]
    docs = _join(
        '<order orderkey="', _s(orders["o_orderkey"]),
        '" status="', orders["o_orderstatus"], '">',
        "\n  <custkey>", _s(orders["o_custkey"]), "</custkey>",
        "\n  <orderdate>",
        pc.strftime(orders["o_orderdate"], format="%Y-%m-%d"),
        "</orderdate>",
        '\n  <totalprice currency="USD">', _s(orders["o_totalprice"]),
        "</totalprice>",
        # optional: every fifth order omits its priority
        _opt(okeys % 5 == 0, _join("\n  <priority>", pri, "</priority>")),
        per_order, "\n</order>\n")
    return docs.to_pylist(), dropped


def _zip(path, members):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in members:
            z.writestr(zipfile.ZipInfo(name, FIXED_ZIP_TIME), text)


def _targz(path, members):
    with open(path, "wb") as f, \
            gzip.GzipFile(fileobj=f, mode="wb", mtime=0) as gz, \
            tarfile.open(fileobj=gz, mode="w") as tar:
        for name, text in members:
            data = text.encode("utf-8")
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))


def generate(sf_dir, workload, seed, out, files=8, drop_lineitem=False):
    shape = SHAPES[workload]
    rng = random.Random(seed)
    all_keys = pq.read_table(f"{sf_dir}/orders.parquet",
                             columns=["o_orderkey"])["o_orderkey"] \
        .to_numpy().tolist()
    if workload == "xml_worklist":
        plain, zips, tars, members = (shape[k] for k in
                                      ("plain", "zips", "tars", "members"))
        picked = rng.sample(all_keys, plain + (zips + tars) * members)
    else:
        picked = rng.sample(all_keys, round(len(all_keys) * shape["fraction"]))
    keys = np.array(sorted(picked), dtype=np.int64)
    docs, dropped = build_documents(sf_dir, keys, drop_lineitem)
    doc_of = dict(zip(keys.tolist(), docs))

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(f"{out}/in")
    inputs, archives = [], []
    if workload == "xml_worklist":
        for k in picked[:plain]:
            p = f"in/o{k}.xml"
            with open(f"{out}/{p}", "w", encoding="utf-8") as f:
                f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
                f.write(doc_of[k])
            os.utime(f"{out}/{p}", (FIXED_MTIME, FIXED_MTIME))
            inputs.append(p)
        rest = picked[plain:]
        for i in range(zips + tars):
            chunk = rest[i * members:(i + 1) * members]
            entries = [(f"o{k}.xml", doc_of[k]) for k in chunk]
            if i < zips:
                p = f"in/batch{i:02d}.zip"
                _zip(f"{out}/{p}", entries)
            else:
                p = f"in/batch{i:02d}.tar.gz"
                _targz(f"{out}/{p}", entries)
            inputs.append(p)
            archives.append(p)
    else:
        for i, part in enumerate(np.array_split(np.array(picked), files)):
            p = f"in/part{i:02d}.xml"
            with open(f"{out}/{p}", "w", encoding="utf-8") as f:
                f.write('<?xml version="1.0" encoding="UTF-8"?>\n<orders>\n')
                f.writelines(doc_of[k] for k in part.tolist())
                f.write("</orders>\n")
            inputs.append(p)

    pq.write_table(pa.table({"orderkey": pa.array(keys)}),
                   f"{out}/keys.parquet")
    manifest = {
        "workload": workload,
        "seed": seed,
        "docs": len(keys),
        "xml_bytes": sum(len(d.encode("utf-8")) for d in docs),
        "file_bytes": sum(os.path.getsize(f"{out}/{p}") for p in inputs),
        "inputs": inputs,
        "archives": archives,
        "dropped": list(dropped) if dropped else None,
    }
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--files", type=int, default=8,
                    help="multi-document files of xml_bulk")
    ap.add_argument("--drop-lineitem", action="store_true")
    a = ap.parse_args()
    m = generate(a.sf_dir, a.workload, a.seed, a.out, a.files,
                 a.drop_lineitem)
    print(json.dumps({k: m[k] for k in ("docs", "xml_bytes", "file_bytes")}))


if __name__ == "__main__":
    main()
