"""Pairwise similarity measures, all evaluated inside the JVM.

Spark builtins where Spark has the measure (Levenshtein, array/map algebra
for cosine). The two measures Spark lacks, Levenshtein *ratio* with
substitution-cost-2 semantics and Jaro-Winkler, are JVM kernels in
``StringKernels.java``, called as Spark UDFs. No row crosses into Python.
The same compilation unit carries ``union_find``, the one-task finish of
``operators.cluster.connected_components``.

Why kernels, and why Janino: a Python UDF's cost is mostly the boundary
(Arrow batches shipped to a Python worker and back), not the function
body, and an exact higher-order-function SQL version of Jaro-Winkler ran
2.5-4× slower than the Python UDF, because Spark interprets lambdas. The
kernels are compiled on first use, once per SparkContext, by Janino, the
compiler Spark already carries for whole-stage codegen. So no JDK is needed
at run time and no binary is kept in git, and the kernels ship to
executors as a jar through ``addJar``.

Reference parity notes:
- ``Levenshtein.ratio`` in the reference (``/root/reference/src/
  simple_dataset.py:180``) is python-Levenshtein's ratio, which charges
  substitutions cost 2 — equivalently ``(len_a + len_b - indel_distance) /
  (len_a + len_b)`` = ``2*LCS / (len_a + len_b)``. That is NOT derivable
  from Spark's unit-cost ``F.levenshtein``; ``lev_ratio_cost2`` replicates
  it exactly. Goldens in ``tests/test_similarity.py`` pin the Python
  reference ``tests/similarity_reference.py``, and
  ``tests/test_string_kernels.py`` checks both kernels against it.
- Jaro-Winkler is required by the target pipeline (BASELINE.json
  north_star); implemented to match DuckDB's ``jaro_winkler_similarity``
  bit-for-bit so the oracle can check it (prefix weight 0.1, prefix cap 4,
  boost threshold 0.7).
"""

from __future__ import annotations

import os
import threading
import zipfile
from pathlib import Path

from py4j.java_gateway import JavaObject
from pyspark import SparkContext, SparkFiles
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.column import _to_java_column, _to_seq


# ---------------------------------------------------------------------------
# JVM-side (preferred) column expressions
# ---------------------------------------------------------------------------

def lev_ratio_unit(a: Column, b: Column) -> Column:
    """1 - levenshtein/max(len): unit-cost similarity, fully JVM-side.

    Used for oracle-checked queries (DuckDB computes the identical
    formula on its own ``levenshtein``; integer distance → the division
    is bit-identical IEEE754 in both engines).
    """
    denom = F.greatest(F.length(a), F.length(b))
    return F.when(denom == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / denom
    )


def cosine_arrays(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, JVM-side.

    ``zip_with`` + ``aggregate`` keeps this inside whole-stage codegen —
    no Python round-trip for the ANN / embedding-dedup hot path.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    denom = na * nb
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot / denom)


def dot_arrays(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def tfidf_dot_maps(a: Column, b: Column) -> Column:
    """Dot product of two map<token,double> TF-IDF vectors, JVM-side.

    ``map_zip_with`` merges on the token key; missing keys contribute 0.
    Reference analog: ``calc_tfidf`` over dict BoWs
    (``/root/reference/src/simple_dataset.py:117-125``).
    """
    merged = F.map_zip_with(
        a, b, lambda k, x, y: F.coalesce(x, F.lit(0.0)) * F.coalesce(y, F.lit(0.0))
    )
    return F.aggregate(F.map_values(merged), F.lit(0.0), lambda acc, v: acc + v)


def tfidf_norm_map(a: Column) -> Column:
    """L2 norm of a map<token,double> TF-IDF vector (``calc_tfidf_norm``,
    ``/root/reference/src/simple_dataset.py:123-125``)."""
    return F.sqrt(
        F.aggregate(F.map_values(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def tfidf_cosine_maps(a: Column, b: Column) -> Column:
    denom = tfidf_norm_map(a) * tfidf_norm_map(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(tfidf_dot_maps(a, b) / denom)


# ---------------------------------------------------------------------------
# JVM kernels (measures Spark lacks), compiled from StringKernels.java
# ---------------------------------------------------------------------------

_KERNEL_SOURCE = Path(__file__).with_name("StringKernels.java")
# name → (class in StringKernels.java, return type as a DDL string)
_KERNELS = {
    "jaro_winkler": ("JaroWinkler", "double"),
    "lev_ratio_cost2": ("LevRatioCost2", "double"),
    "union_find": ("UnionFind", "array<struct<node: bigint, component: bigint>>"),
}

_lock = threading.Lock()
_loaded_for: tuple[str, int] | None = None
_udfs: dict[str, JavaObject] = {}


def _compile_kernels(sc: SparkContext) -> dict[str, JavaObject]:
    """Compile ``StringKernels.java`` with Janino, ship it, wrap each kernel.

    The classes go into a jar under the context's ``SparkFiles`` root
    (deleted when the context stops), ``addJar`` hands it to executors,
    and the driver loads the kernels from the same jar.
    """
    jvm, gateway = sc._jvm, sc._gateway
    Class = jvm.java.lang.Class
    udf2 = Class.forName("org.apache.spark.sql.api.java.UDF2")
    compiler = jvm.org.codehaus.janino.SimpleCompiler()
    compiler.setParentClassLoader(udf2.getClassLoader())
    compiler.cook(_KERNEL_SOURCE.name, _KERNEL_SOURCE.read_text())
    classes = compiler.getBytecodes()
    jar_dir = os.path.join(SparkFiles.getRootDirectory(), "string_kernels")
    os.makedirs(jar_dir, exist_ok=True)
    jar = os.path.join(jar_dir, "string_kernels.jar")
    with zipfile.ZipFile(jar, "w") as zf:
        for name in classes.keySet():
            zf.writestr(name.replace(".", "/") + ".class", classes.get(name))
    sc._jsc.sc().addJar(jar)

    urls = gateway.new_array(jvm.java.net.URL, 1)
    urls[0] = jvm.java.io.File(jar).toURI().toURL()
    loader = jvm.java.net.URLClassLoader(urls, udf2.getClassLoader())
    # functions.udf(UDF2, DataType) is named by reflection: py4j resolves a
    # plain call to the untyped udf(Object, DataType), which Spark refuses
    sig = gateway.new_array(Class, 2)
    sig[0] = udf2
    sig[1] = Class.forName("org.apache.spark.sql.types.DataType")
    java_udf = Class.forName("org.apache.spark.sql.functions").getMethod("udf", sig)
    no_params = gateway.new_array(Class, 0)
    no_args = gateway.new_array(jvm.java.lang.Object, 0)
    udfs = {}
    for name, (cls, ddl) in _KERNELS.items():
        kernel = (
            loader.loadClass(f"entity_linking_spark.functions.StringKernels${cls}")
            .getDeclaredConstructor(no_params)
            .newInstance(no_args)
        )
        args = gateway.new_array(jvm.java.lang.Object, 2)
        args[0] = kernel
        args[1] = jvm.org.apache.spark.sql.types.DataType.fromDDL(ddl)
        udfs[name] = java_udf.invoke(None, args).withName(name)
    return udfs


def _kernel(name: str, a: Column | str, b: Column | str) -> Column:
    """Apply a JVM kernel, compiling the kernels once per SparkContext."""
    global _loaded_for, _udfs
    sc = SparkSession.active().sparkContext
    context = (sc.applicationId, sc.startTime)
    with _lock:
        if _loaded_for != context:
            _udfs, _loaded_for = _compile_kernels(sc), context
        udf = _udfs[name]
    return Column(udf.apply(_to_seq(sc, [a, b], _to_java_column)))


def lev_ratio_cost2(a: Column | str, b: Column | str) -> Column:
    """python-Levenshtein ``ratio`` (substitutions cost 2), as a double."""
    return _kernel("lev_ratio_cost2", a, b)


def jaro_winkler(a: Column | str, b: Column | str) -> Column:
    """DuckDB's ``jaro_winkler_similarity``, as a double; null reads as ""."""
    return _kernel("jaro_winkler", a, b)


def union_find(src: Column | str, dst: Column | str) -> Column:
    """Connected components of the edges in two aligned ``array<bigint>``
    columns → ``array<struct<node, component>>``, one entry per distinct
    node, component = the component's minimum id (signed order)."""
    return _kernel("union_find", src, dst)
