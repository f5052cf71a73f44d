package graft.engine

/** Predictor/variable registries mirrored from the reference's constants
  * (`pipeline/carbonpipeline/Processing/constants.py:8-110`). The schema
  * system is deliberately dynamic (SURVEY §1.2): which columns exist depends
  * on the requested predictors, so these maps drive column selection,
  * renames and pruning rather than any hard-coded StructType.
  */
object Predictors {

  /** ERA5 shortname → longname (OP-PRJ-1 bulk rename,
    * `Processing/constants.py:31-52`).
    */
  val shortnameToFullname: Map[String, String] = Map(
    "u10" -> "10m_u_component_of_wind",
    "v10" -> "10m_v_component_of_wind",
    "t2m" -> "2m_temperature",
    "d2m" -> "2m_dewpoint_temperature",
    "sp" -> "surface_pressure",
    "tp" -> "total_precipitation",
    "avg_sdlwrf" -> "mean_surface_downward_long_wave_radiation_flux",
    "avg_sdswrf" -> "mean_surface_downward_short_wave_radiation_flux",
    "avg_sdswrfcs" -> "mean_surface_downward_short_wave_radiation_flux_clear_sky",
    "avg_snlwrf" -> "mean_surface_net_long_wave_radiation_flux",
    "avg_slhtf" -> "mean_surface_latent_heat_flux",
    "avg_ishf" -> "mean_surface_sensible_heat_flux",
    "stl1" -> "soil_temperature_level_1",
    "stl2" -> "soil_temperature_level_2",
    "stl3" -> "soil_temperature_level_3",
    "swvl1" -> "volumetric_soil_water_layer_1",
    "swvl2" -> "volumetric_soil_water_layer_2",
    "swvl3" -> "volumetric_soil_water_layer_3",
    "fal" -> "forecast_albedo",
    "zust" -> "friction_velocity"
  )

  /** Predictor → ordered ERA5 source variables (longnames), the argument
    * order expected by [[Conversions.processors]]
    * (`Processing/constants.py:54-110`).
    */
  val variablesForPredictor: Map[String, Seq[String]] = Map(
    "TA" -> Seq("2m_temperature"),
    "P" -> Seq("total_precipitation"),
    "RH" -> Seq("2m_temperature", "2m_dewpoint_temperature"),
    "VPD" -> Seq("2m_temperature", "2m_dewpoint_temperature"),
    "PA" -> Seq("surface_pressure"),
    "CO2" -> Seq("2m_temperature", "2m_dewpoint_temperature",
      "surface_pressure", "xco2"),
    "SW_IN" -> Seq("mean_surface_downward_short_wave_radiation_flux"),
    "SW_IN_POT" -> Seq(
      "mean_surface_downward_short_wave_radiation_flux_clear_sky"),
    "SW_OUT" -> Seq("mean_surface_downward_short_wave_radiation_flux",
      "forecast_albedo"),
    "LW_IN" -> Seq("mean_surface_downward_long_wave_radiation_flux"),
    "LW_OUT" -> Seq("mean_surface_downward_long_wave_radiation_flux",
      "mean_surface_net_long_wave_radiation_flux"),
    "NETRAD" -> Seq("mean_surface_downward_short_wave_radiation_flux",
      "mean_surface_downward_long_wave_radiation_flux",
      "mean_surface_net_long_wave_radiation_flux", "forecast_albedo"),
    "WS" -> Seq("10m_u_component_of_wind", "10m_v_component_of_wind"),
    "WD" -> Seq("10m_u_component_of_wind", "10m_v_component_of_wind"),
    "USTAR" -> Seq("friction_velocity"),
    "SWC_1" -> Seq("volumetric_soil_water_layer_1"),
    "SWC_2" -> Seq("volumetric_soil_water_layer_1"),
    "SWC_3" -> Seq("volumetric_soil_water_layer_2"),
    "SWC_4" -> Seq("volumetric_soil_water_layer_2"),
    "SWC_5" -> Seq("volumetric_soil_water_layer_3"),
    "TS_1" -> Seq("soil_temperature_level_1"),
    "TS_2" -> Seq("soil_temperature_level_1"),
    "TS_3" -> Seq("soil_temperature_level_2"),
    "TS_4" -> Seq("soil_temperature_level_2"),
    "TS_5" -> Seq("soil_temperature_level_3"),
    "G" -> Seq("mean_surface_sensible_heat_flux",
      "mean_surface_latent_heat_flux",
      "mean_surface_downward_short_wave_radiation_flux",
      "mean_surface_downward_long_wave_radiation_flux",
      "mean_surface_net_long_wave_radiation_flux", "forecast_albedo"),
    "H" -> Seq("mean_surface_sensible_heat_flux"),
    "LE" -> Seq("mean_surface_latent_heat_flux"),
    "PPFD_IN" -> Seq("mean_surface_downward_short_wave_radiation_flux"),
    "PPFD_OUT" -> Seq("mean_surface_downward_short_wave_radiation_flux",
      "forecast_albedo"),
    "WTD" -> Seq("wtd")
  )
}
