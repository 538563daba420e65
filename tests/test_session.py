"""The session factory's static JVM options reach the driver JVM."""

from __future__ import annotations

from apache_pinot_spark.session import _DRIVER_MEM, JIT_OPTIONS


def test_driver_jvm_gets_heap_metaspace_and_jit_options(spark):
    """``get_spark`` passes ``STATIC_CONFS``' extraJavaOptions to the JVM
    it launches: the pinned, pre-touched heap, the metaspace threshold and
    every ``JIT_OPTIONS`` flag show up among the JVM's input arguments,
    each as its own argument."""
    jvm = spark.sparkContext._jvm
    args = set(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    expected = [f"-Xms{_DRIVER_MEM}", "-XX:+AlwaysPreTouch", "-XX:MetaspaceSize=256m",
                *JIT_OPTIONS.split()]
    missing = [flag for flag in expected if flag not in args]
    assert not missing, f"not on the JVM command line: {missing}"
