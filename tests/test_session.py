"""The session's JIT posture reaches the JVM: the driver runs C1 only,
and executors keep the JVM's default tiered compilation."""


def test_driver_jvm_runs_c1_only(spark):
    jvm = spark.sparkContext._jvm
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class)
    assert hotspot.getVMOption("TieredStopAtLevel").getValue() == "1"
    executor_opts = spark.sparkContext.getConf().get("spark.executor.extraJavaOptions", "")
    assert "TieredStopAtLevel" not in executor_opts
