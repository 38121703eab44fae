"""Pure-Python twins of the JVM kernels, kept only as test oracles.

The program runs one kernel family — the compiled JVM UDFs in
java/src/sbspark/. The differentials in tests/ compare those kernels
against the independent Python implementations collected here.
"""
