"""The engine's JVM side: ``ParamLiterals.java``, a planner strategy
compiled in the driver JVM by the Janino compiler Spark already ships
(no javac, no jar, nothing written to disk).

The strategy takes comparison literals out of whole-stage generated
code, so a query shape compiles once however its literals change (see
the class comment). ``install`` puts it into a session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "ParamLiterals.java")


def install(spark: SparkSession) -> None:
    """Put the ParamLiterals strategy first among ``spark``'s
    experimental strategies (each session, ``newSession()`` ones too,
    keeps its own list).

    The JVM's one instance is compiled on first use and kept on the
    py4j gateway, which lives as long as the JVM. (JavaGateway forwards
    unknown attributes to the JVM, so the memo is read from its
    instance dict.)
    """
    gateway = spark.sparkContext._gateway
    strategy = vars(gateway).get("_param_literals")
    if strategy is None:
        compiler = gateway.jvm.org.codehaus.janino.SimpleCompiler()
        with open(_SOURCE) as f:
            compiler.cook(f.read())
        cls = compiler.getClassLoader().loadClass("ParamLiterals")
        strategy = gateway._param_literals = cls.newInstance()
    experimental = spark._jsparkSession.experimental()
    getattr(experimental, "extraStrategies_$eq")(
        experimental.extraStrategies().prepended(strategy))
