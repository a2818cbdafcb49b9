"""Pure-numpy kernels (no Spark imports): grid, geometry, RNG, codecs.

These run either driver-side (plan construction: polygon cell cover,
polygon index build) or inside vectorized pandas/Arrow UDFs on executors.
"""
